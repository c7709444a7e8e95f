package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Entry, Memo, Registered, Tables}

/** Persist semantics (reference: services/persist/handler.ts +
  * src/stacks/data-stack.ts single-table design).
  *
  * The reference does a row-at-a-time conditional DynamoDB update:
  * `version = if_not_exists(version,0)+1` (services/persist/
  * handler.ts:51) guarded by `attribute_not_exists(idempotencyKey) OR
  * idempotencyKey <> :idk` (handler.ts:54) — a write is a no-op IFF
  * its key equals the key CURRENTLY stored on the row, i.e. only
  * consecutive replays are suppressed; a key seen earlier but since
  * overwritten applies again.
  * Set-oriented, that reduces to one lag() window: a skipped write
  * leaves the row unchanged, so "equals the last applied key" is
  * equivalent (by induction over the write sequence) to "equals the
  * previous raw event's key" — applied = rows where
  * `ik <> lag(ik) over (entity ORDER BY ts, id)`. Version = applied
  * count, attributes = the latest applied write.
  *
  * Scale: the replays read the served [[store]] (the P2 loop's
  * snapshot replays excepted, see [[opSnapshotReplay]]), which is
  * hash-partitioned on the patient and sorted in the GSI2 order
  * (patient, code, ts, id), so the entity windows and aggregates plan
  * no Exchange at all; a landing rebuilds the store once. No
  * driver-side loops — this is the 1000-executor replacement for the
  * Lambda.
  */
object Persist extends Registered {

  /** Entity here = (patient, code) "latest observation" document; the
    * synthetic idempotency key (event_id mod 5 within the entity)
    * collides on purpose so both consecutive replays (suppressed) and
    * recycled keys (applied again) exist. */
  /** The full write-attempt stream with idempotency evidence (`ik` +
    * the lagged `prev_ik` within the entity), BOTH outcomes kept:
    * [[appliedFrom]] filters to accepted writes; F23's health report
    * counts the rejected complement (the conditional-write failure
    * path) — shared so the rule can never drift between the two. */
  private[operators] def attemptsFrom(events: DataFrame): DataFrame = {
    val wSeq = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("ik", concat(lit("ik"), pmod(col("event_id"), lit(5))))
      .withColumn("prev_ik", lag(col("ik"), 1).over(wSeq))
  }

  private def appliedFrom(events: DataFrame): DataFrame =
    attemptsFrom(events)
      // conditional-write semantics: only a consecutive same-key write
      // is a no-op (see object doc for the lag equivalence proof)
      .filter(col("prev_ik").isNull || col("ik") =!= col("prev_ik"))
      .drop("prev_ik")

  private[graft] def applied(spark: SparkSession, dir: String): DataFrame =
    appliedFrom(store(spark, dir).obs)

  /** The served store of one landing, the single-table design's
    * stand-in: the landing decoded once (the reference's raw copy kept
    * for replay), what its Persist stage writes (the table keyed by
    * tenant and patient, GSI2) and what its Query API reads with point
    * lookups.
    *  - `obs`: the whole decoded events table (all six columns),
    *    hash-partitioned on `user_id` into `defaultParallelism`
    *    partitions and sorted within each by (user_id, event_type, ts,
    *    event_id), the GSI2 order. Every entity window (user_id,
    *    event_type) and every per-patient rollup over it plans no
    *    Exchange, the sort lets the cached batches' column stats prune
    *    a patient's point read, and the stages before Persist
    *    (Adapters, Ingest, Normalize) run their parse, hash and regex
    *    work on every partition instead of one task per row group.
    *  - `profile`: the D5 META rows ([[metaFrom]] over `obs`)
    *    left-joined with the registry's segment and balance — the row
    *    getPatient serves.
    *
    * One memo entry per dir over events.parquet and customer.parquet:
    * a landing (a new or rewritten events file) rebuilds it, and the
    * release unpersists both superseded frames. The build runs one
    * action that materializes both, so the first stage that asks for
    * the store pays for it (B1 `csvLabx` in the reference flow) and
    * every later read is a scan of cached blocks. */
  final case class Store(obs: DataFrame, profile: DataFrame)

  def store(spark: SparkSession, dir: String): Store =
    Memo.cachedFrames(spark, s"persist.store:$dir",
        Seq(s"$dir/events.parquet", s"$dir/customer.parquet")) { cache =>
      val obs = cache(Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value", "ts", "props")
        .repartition(spark.sparkContext.defaultParallelism, col("user_id"))
        .sortWithinPartitions("user_id", "event_type", "ts", "event_id"))
      val customers = Tables.customer(spark, dir)
        .select(col("c_custkey").as("patient_id"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("balance"))
      val profile = cache(metaFrom(obs)
        .join(broadcast(customers), Seq("patient_id"), "left")
        .select(col("tenant_id"), col("patient_id"), col("name"),
          col("birth_date"), col("version"), col("last_updated"),
          col("segment"), col("balance")))
      profile.count() // one job fills both: profile's scan builds obs
      Store(obs, profile)
    }

  /** D1 `persist_key_design` — single-table key projection: PK/SK,
    * GSI1 (inverted), GSI2 (patient timeline). Pure codegen'd
    * projection, no shuffle. entity_id matches the reference:
    * <patientId>:<code>:<effectiveDateTime>. */
  def keyDesign(spark: SparkSession, dir: String): DataFrame = {
    val entityId = concat(col("user_id"), lit(":"), col("event_type"), lit(":"), Obs.tsCanon)
    Tables.events(spark, dir).select(
      col("event_id"),
      concat(lit("TENANT#"), Obs.tenant).as("pk"),
      concat(lit("ENTITY#observation#"), entityId).as("sk"),
      concat(lit("ENTITY#observation#"), entityId).as("gsi1_pk"),
      concat(lit("TENANT#"), Obs.tenant).as("gsi1_sk"),
      concat(lit("TENANT#"), Obs.tenant, lit("#PATIENT#"), col("user_id")).as("gsi2_pk"),
      concat(Obs.tsCanon, lit("#OBS#"), col("event_type"), lit("#"), col("event_id")).as("gsi2_sk"))
  }

  def keyDesignSql: String =
    """SELECT event_id,
      |  'TENANT#t' || (user_id % 4) AS pk,
      |  'ENTITY#observation#' || user_id || ':' || event_type || ':'
      |    || strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS sk,
      |  'ENTITY#observation#' || user_id || ':' || event_type || ':'
      |    || strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS gsi1_pk,
      |  'TENANT#t' || (user_id % 4) AS gsi1_sk,
      |  'TENANT#t' || (user_id % 4) || '#PATIENT#' || user_id AS gsi2_pk,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '#OBS#' || event_type || '#'
      |    || event_id AS gsi2_sk
      |FROM events""".stripMargin

  /** D2 `persist_upsert_version` — idempotent versioned upsert, whole
    * batch at once: version = count of applied writes (consecutive
    * same-key replays suppressed), attributes = latest applied write
    * wins. It replays the [[store]] the flow's first stage built. */
  def upsertVersion(spark: SparkSession, dir: String): DataFrame =
    upsertVersionFrom(applied(spark, dir))

  private def upsertVersionFrom(applied: DataFrame): DataFrame = {
    val wLatest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    applied
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("version"),
        max(when(col("latest_rn") === 1, col("value"))).as("last_value"),
        max(when(col("latest_rn") === 1, col("ts"))).as("last_ts"),
        max(when(col("latest_rn") === 1, col("ik"))).as("last_ik"))
  }

  /** D9 `persist_tombstone` — delete/tombstone semantics on top of
    * the conditional-write replay: the write stream interleaves PUTs
    * with DELETEs (DynamoDB DeleteItem / CDC tombstones — here every
    * 7th event id is a delete command, deterministically), and the
    * served read view contains an entity ONLY if its latest applied
    * write is a put. This is the GDPR-deletion / record-expiry path
    * the reference's single-table design would execute as
    * DeleteItem: a tombstone doesn't erase history (version still
    * counts every applied op, n_deletes counts the tombstones — the
    * audit trail), it makes the CURRENT state absent; a later put
    * resurrects the entity with its version lineage intact.
    *
    * Scale: identical economics to D2 — window + agg within the
    * store's patient partitions, no Exchange; the tombstone filter is
    * a HAVING on the aggregated row, not a second pass. */
  def tombstoneState(spark: SparkSession, dir: String): DataFrame =
    opState(spark, dir).filter(col("last_op") === "put").drop("last_op")

  /** Shared put/delete replay state: one row per entity with its full
    * lineage (version counts EVERY applied op, deletes included) and
    * the latest applied op — D9 serves the `last_op = put` slice,
    * F10b's purge list the `delete` slice, so the two are provably a
    * partition of the entity set (PipelineSpec asserts it). */
  private[graft] def opState(spark: SparkSession, dir: String): DataFrame = {
    val wLatest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    applied(spark, dir)
      .withColumn("op",
        when(pmod(col("event_id"), lit(7)) === 0, "delete").otherwise("put"))
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("version"),
        sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"),
        max(when(col("latest_rn") === 1, col("op"))).as("last_op"),
        max(when(col("latest_rn") === 1, col("value"))).as("last_value"),
        max(when(col("latest_rn") === 1, col("ts"))).as("last_ts"))
  }

  /** The ranked-op CTE in SQL — the oracle-side twin of [[opState]],
    * shared by the D9 and F10b oracles so the delete rule and the
    * latest-op window can never drift between them (assumes the
    * `applied` CTE is in scope). */
  def opStateRankedSqlCte: String =
    """ranked AS (
      |  SELECT *,
      |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS latest_rn
      |  FROM applied
      |)""".stripMargin

  def tombstoneStateSql: String =
    s"""WITH $appliedSqlCte, $opStateRankedSqlCte
       |SELECT user_id, event_type,
       |  COUNT(*) AS version,
       |  CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deletes,
       |  MAX(CASE WHEN latest_rn = 1 THEN value END) AS last_value,
       |  CAST(MAX(CASE WHEN latest_rn = 1 THEN ts END) AS TIMESTAMP) AS last_ts
       |FROM ranked GROUP BY 1, 2
       |HAVING MAX(CASE WHEN latest_rn = 1 THEN op END) = 'put'""".stripMargin

  /** D2-bucketed `persist_upsert_bucketed` — the same idempotent
    * versioned upsert served from a bucketed+sorted layout (storage
    * bucketed by the entity's partition key, the single-table-design
    * analogue of a DynamoDB partition). hashpartitioning(user_id)
    * satisfies every downstream requirement — both windows and the
    * final agg cluster on (user_id, event_type) ⊇ {user_id} — so the
    * WHOLE upsert plans with ZERO Exchange (BucketingSpec pins it):
    * at 100 TB the nightly upsert re-read costs no shuffle at all.
    * Results are identical to `persist_upsert_version` and checked
    * against the same oracle. */
  def upsertVersionBucketed(spark: SparkSession, dir: String): DataFrame =
    upsertVersionFrom(appliedFrom(bucketedEvents(spark, dir)))

  /** The memoized bucketed events table itself (hashpartitioning on
    * user_id, sorted within buckets) — the storage layout every
    * entity-keyed read can plan against with zero Exchange. Public so
    * specs (and other operators) can pin plans on the SAME layout D2b
    * serves from rather than re-writing their own bucket table.
    *
    * Writing the table is a Spark job and query constructors must
    * stay plan-only on re-entry, so the write is a memo entry; a
    * rewrite of the source re-writes the same table in place. The
    * table name is keyed by dir so different SFs coexist in one
    * warehouse. */
  def bucketedEvents(spark: SparkSession, dir: String): DataFrame = {
    val table = Memo.value(spark, s"persist.bucketed:$dir",
        Seq(s"$dir/events.parquet")) {
      // md5 prefix, not dir.hashCode: hashCode collides across dirs
      // (one dir's table would silently serve another's data) and
      // Int.MinValue would yield an invalid '-'-prefixed identifier
      val name = "events_bucketed_" + java.security.MessageDigest
        .getInstance("MD5").digest(dir.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      Bucketing.writeBucketed(
        Tables.events(spark, dir)
          .select("event_id", "user_id", "event_type", "value", "ts"),
        name, "user_id", 8, Seq("user_id", "event_type", "ts", "event_id"))
      name
    }
    spark.table(table)
  }

  /** The oracle-side `applied` CTE — SINGLE source of truth for the
    * idempotency rule in SQL, mirroring [[appliedFrom]] on the Spark
    * side. Every oracle that replays writes interpolates this (D2/D2b
    * here, D3, D4, and Audit's F12 replay manifest) so the rule can
    * never drift between copies. */
  def appliedSqlCte: String =
    """applied AS (
      |  SELECT * FROM (
      |    SELECT *, 'ik' || (event_id % 5) AS ik,
      |      LAG('ik' || (event_id % 5)) OVER (PARTITION BY user_id, event_type
      |                                        ORDER BY ts, event_id) AS prev_ik
      |    FROM events
      |  ) WHERE prev_ik IS NULL OR ik <> prev_ik
      |)""".stripMargin

  def upsertVersionSql: String =
    s"""WITH $appliedSqlCte, ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY ts DESC, event_id DESC) AS latest_rn
      |  FROM applied
      |)
      |SELECT user_id, event_type,
      |  COUNT(*) AS version,
      |  MAX(CASE WHEN latest_rn = 1 THEN value END) AS last_value,
      |  CAST(MAX(CASE WHEN latest_rn = 1 THEN ts END) AS TIMESTAMP) AS last_ts,
      |  MAX(CASE WHEN latest_rn = 1 THEN ik END) AS last_ik
      |FROM ranked
      |GROUP BY user_id, event_type""".stripMargin

  /** D3 `persist_commit_log` — the etl.persisted.v1 commit-log
    * projection: one event per applied write with the version it
    * produced (rank of the write within its entity). */
  def commitLog(spark: SparkSession, dir: String): DataFrame = {
    val wVersion = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    applied(spark, dir)
      .withColumn("version", row_number().over(wVersion))
      .select(
        lit("etl.persisted.v1").as("event_name"),
        lit("observation").as("entity_type"),
        concat(col("user_id"), lit(":"), col("event_type")).as("entity_id"),
        col("version"), col("ik").as("idempotency_key"),
        col("ts").as("applied_at"), col("event_id"))
  }

  def commitLogSql: String =
    s"""WITH $appliedSqlCte
      |SELECT 'etl.persisted.v1' AS event_name,
      |  'observation' AS entity_type,
      |  user_id || ':' || event_type AS entity_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                     ORDER BY ts, event_id) AS version,
      |  ik AS idempotency_key,
      |  CAST(ts AS TIMESTAMP) AS applied_at,
      |  event_id
      |FROM applied""".stripMargin

  /** D15 `persist_vacuum_plan` — version-retention VACUUM planner,
    * the last missing day-2 op of the persist store's lifecycle
    * (upsert → compact → tombstone → changefeed → export → VACUUM;
    * reference-shape: Delta VACUUM / Iceberg expire_snapshots): a
    * stored version object is safe to delete iff it was SUPERSEDED at
    * or before the retention horizon — every as-of read at any
    * t ≥ horizon then resolves to a newer version by construction, so
    * time travel inside the retention window is provably unaffected
    * (the D4 safety law, pinned by the spec). The latest version of
    * an entity is never eligible (its superseded_at is NULL and NULL
    * fails the predicate — the guard is the three-valued logic
    * itself). Served as the deletion WORK LIST (entity_id, version,
    * applied_at, superseded_at), the form a storage reaper consumes —
    * H25's planner discipline applied to the commit log.
    *
    * Scale: ONE window over the applied-write log keyed exactly like
    * D3's version rank (the lead() rides the same exchange+sort), a
    * map-side horizon filter, no further shuffle — the plan is
    * O(commit log), metadata-scale next to the data it reaps. */
  def vacuumPlan(spark: SparkSession, dir: String,
                 horizon: String = "2024-01-15 00:00:00"): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    applied(spark, dir)
      .withColumn("version", row_number().over(w))
      .withColumn("superseded_at", lead(col("ts"), 1).over(w))
      .filter(col("superseded_at") <= lit(horizon).cast("timestamp"))
      .select(
        concat(col("user_id"), lit(":"), col("event_type")).as("entity_id"),
        col("version"), col("ts").as("applied_at"), col("superseded_at"))
      .orderBy(col("entity_id"), col("version"))
  }

  def vacuumPlanSql(horizon: String = "2024-01-15 00:00:00"): String =
    s"""WITH $appliedSqlCte,
       |log AS (
       |  SELECT user_id || ':' || event_type AS entity_id,
       |    CAST(ROW_NUMBER() OVER w AS INT) AS version,
       |    CAST(ts AS TIMESTAMP) AS applied_at,
       |    LEAD(CAST(ts AS TIMESTAMP), 1) OVER w AS superseded_at
       |  FROM applied
       |  WINDOW w AS (PARTITION BY user_id, event_type
       |               ORDER BY ts, event_id)
       |)
       |SELECT entity_id, version, applied_at, superseded_at
       |FROM log WHERE superseded_at <= TIMESTAMP '$horizon'
       |ORDER BY entity_id, version""".stripMargin

  /** Snapshot cutoff for D4 — mid-range of the synthetic event window. */
  private val SnapshotTs = "2024-01-08 00:00:00"

  /** D4 `persist_asof_snapshot` — time travel over the commit log:
    * the state (version, latest attributes) of every entity as of a
    * cutoff instant. Because the conditional-write suppression only
    * ever looks backward (lag), filtering writes to ts <= cutoff then
    * replaying equals replaying then rolling back — so the snapshot
    * is the same one windowed pass as D2 over the restricted write
    * set. The cutoff comparison is done at microsecond precision on
    * BOTH engines (events.ts is parquet NANOS; Spark truncates at
    * load, the oracle casts) so boundary events agree. */
  /** The cutoff replay itself — ONE definition of "entity state as of
    * an instant" (version, latest value/ts), shared by D4's snapshot
    * and both sides of D10's diff so the replay rule cannot drift
    * between the snapshot an operator serves and the snapshots the
    * feed claims to compare. */
  private def snapshotReplay(spark: SparkSession, dir: String, cut: String): DataFrame = {
    val wLatest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    applied(spark, dir)
      .filter(col("ts") <= lit(cut).cast("timestamp"))
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("version"),
        max(when(col("latest_rn") === 1, col("value"))).as("value"),
        max(when(col("latest_rn") === 1, col("ts"))).as("ts"))
  }

  /** The same replay as a SQL derived table (assumes `applied` is in
    * scope); `v`/`val` output names are parameterized so the D10
    * oracle can instantiate it twice in one statement. */
  private def snapshotReplaySql(cut: String, vCol: String, valCol: String): String =
    s"""SELECT user_id, event_type, COUNT(*) AS $vCol,
       |    MAX(CASE WHEN latest_rn = 1 THEN value END) AS $valCol,
       |    CAST(MAX(CASE WHEN latest_rn = 1 THEN ts END) AS TIMESTAMP) AS ts
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                                 ORDER BY ts DESC, event_id DESC) AS latest_rn
       |    FROM applied WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$cut'
       |  ) GROUP BY 1, 2""".stripMargin

  def asofSnapshot(spark: SparkSession, dir: String): DataFrame =
    snapshotReplay(spark, dir, SnapshotTs)
      .select(col("user_id"), col("event_type"),
        col("version").as("version_asof"),
        col("value").as("value_asof"),
        col("ts").as("ts_asof"))

  def asofSnapshotSql: String =
    s"""WITH $appliedSqlCte
       |SELECT user_id, event_type, version_asof, value_asof, ts AS ts_asof
       |FROM (${snapshotReplaySql(SnapshotTs, "version_asof", "value_asof")})""".stripMargin

  /** The second cutoff for D10's snapshot diff (T1 = [[SnapshotTs]]). */
  private[graft] val SnapshotTs2 = "2024-01-12 00:00:00" // close enough to T1 that noops survive at sf0.001

  /** D10 `persist_changefeed` — CHANGEFEED DERIVATION by snapshot
    * diff: the insert/update/noop feed between the entity states as
    * of T1 and T2, computed as a full outer join of the two D4
    * snapshots. This is the producing side of the CDC loop whose
    * consuming side the streaming twins model (D2/D7/D9 fold a
    * DynamoDB-stream feed into state): a warehouse that only holds
    * snapshots can still emit the per-entity change stream a
    * downstream consumer needs — insert (absent at T1), update
    * (version advanced), noop (no applied write in the window;
    * emitted with its unchanged version so the feed is also a full
    * T2 inventory — filter on change_type for the delta). Deletes
    * cannot appear in this pair of D4 snapshots (applied history only
    * grows); the D9 path handles those.
    *
    * Scale: both snapshots replay the SAME applied stream (one
    * shuffle, shared subtree) and the diff joins on the entity key —
    * co-partitioned with the snapshots, so the whole feed is one
    * exchange's worth of data movement. */
  def changefeed(spark: SparkSession, dir: String): DataFrame = {
    val t1 = snapshotReplay(spark, dir, SnapshotTs)
      .select(col("user_id"), col("event_type"),
        col("version").as("v1"), col("value").as("value_t1"))
    val t2 = snapshotReplay(spark, dir, SnapshotTs2)
      .select(col("user_id"), col("event_type"),
        col("version").as("v2"), col("value").as("value_t2"))
    t1.join(t2, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(col("v1").isNull, "insert")
          .when(col("v2") > col("v1"), "update")
          .otherwise("noop").as("change_type"),
        col("v1"), col("v2"), col("value_t1"), col("value_t2"))
  }

  def changefeedSql: String =
    s"""WITH $appliedSqlCte, s1 AS (
       |${snapshotReplaySql(SnapshotTs, "v1", "value_t1")}
       |), s2 AS (
       |${snapshotReplaySql(SnapshotTs2, "v2", "value_t2")}
       |)
       |SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       |  COALESCE(s1.event_type, s2.event_type) AS event_type,
       |  CASE WHEN s1.user_id IS NULL THEN 'insert'
       |       WHEN s2.v2 > s1.v1 THEN 'update'
       |       ELSE 'noop' END AS change_type,
       |  v1, v2, value_t1, value_t2
       |FROM s1 FULL OUTER JOIN s2
       |  ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type""".stripMargin

  /** D12 `persist_cdc_apply` — CONSUME the changefeed: apply D10's
    * compacted change records (noops dropped — what a real CDC
    * stream ships) onto the stored T1 snapshot and serve the
    * reconstructed T2 state. The ORACLE is the full T2 replay
    * (D4's rule at [[SnapshotTs2]]): the driver hash-proves
    * apply(snapshot(T1), changes(T1→T2]) ≡ replay(T2) — the
    * incremental-view-maintenance law D6/K1b pin for aggregates,
    * here for keyed state. The merge is a full-outer equi-join on
    * the entity key: changed/inserted keys take the feed's (v2,
    * value_t2), untouched keys keep the base row. At 100 TB the
    * base is a stored table and the feed is the (tiny) day's
    * changes — the nightly merge costs one co-partitioned join on
    * the entity key, never a second history replay; ts is not part
    * of the served state because CDC records carry values, not
    * commit stamps. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = snapshotReplay(spark, dir, SnapshotTs)
      .select(col("user_id"), col("event_type"),
        col("version").as("v1"), col("value").as("value_t1"))
    val delta = changefeed(spark, dir)
      .filter(col("change_type") =!= "noop")
      .select(col("user_id"), col("event_type"), col("v2"), col("value_t2"))
    base.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        coalesce(col("v2"), col("v1")).as("version_asof"),
        coalesce(col("value_t2"), col("value_t1")).as("value_asof"))
  }

  def cdcApplySql: String =
    s"""WITH $appliedSqlCte
       |SELECT user_id, event_type, version_asof, value_asof
       |FROM (${snapshotReplaySql(SnapshotTs2, "version_asof", "value_asof")})""".stripMargin

  /** Tombstone-aware snapshot replay — D9's [[opState]] restricted to
    * writes at or before `cut`: per entity, full lineage (version
    * counts every applied op, n_deletes the tombstones) plus the
    * latest applied op/value. The building block of the P2 roundtrip:
    * both its snapshots AND the invariant's direct-replay oracle are
    * this ONE definition at different cutoffs.
    *
    * It replays the events files, not the [[store]]: the P2 loop
    * joins its replays on the two-part entity key, and Spark
    * co-partitions a join only on all of its keys, so over the
    * patient-partitioned store each replay would be re-shuffled after
    * its aggregate (4 exchanges where the files' shared entity-key
    * shuffle takes 3). */
  private def opSnapshotReplay(spark: SparkSession, dir: String,
                               cut: String): DataFrame = {
    val wLatest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    appliedFrom(Tables.events(spark, dir))
      .filter(col("ts") <= lit(cut).cast("timestamp"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(7)) === 0, "delete").otherwise("put"))
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("version"),
        sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"),
        max(when(col("latest_rn") === 1, col("op"))).as("last_op"),
        max(when(col("latest_rn") === 1, col("value"))).as("last_value"))
  }

  /** The stored T1 state the P2 consumer bootstraps from (same column
    * shape as the roundtrip output, minus the purge flag). */
  private[graft] def cdcBase(spark: SparkSession, dir: String,
                             cut: String = SnapshotTs): DataFrame =
    opSnapshotReplay(spark, dir, cut)

  /** D14 `persist_export_manifest` — the snapshot-export INTEGRITY
    * MANIFEST a CDC bootstrap consumer verifies before tailing the
    * feed (P2's `cdcApplyState` loads exactly this export): per
    * tenant, entity/live/tombstone counts, the version mass, and an
    * order-insensitive integer state checksum
    * (Σ user_id·version — exact BIGINT on both engines, so a dropped
    * or duplicated entity in the export is detected without sorting
    * or string concatenation). This is the Delta/Iceberg snapshot
    * manifest shape (row counts + content digest per file/partition)
    * applied to the entity state. One rollup over the snapshot —
    * the snapshot subtree is D4/D9's single entity-key shuffle. */
  def exportManifest(spark: SparkSession, dir: String): DataFrame =
    cdcBase(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"))
      .agg(count(lit(1)).as("n_entities"),
        sum(when(col("last_op") === "put", 1L).otherwise(0L)).as("n_live"),
        sum(when(col("last_op") === "delete", 1L).otherwise(0L)).as("n_tombstoned"),
        sum(col("version")).as("version_sum"),
        sum(col("user_id") * col("version")).as("state_checksum"))

  def exportManifestSql: String =
    s"""WITH $appliedSqlCte,
       |ranked AS (
       |  SELECT *,
       |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY ts DESC, event_id DESC) AS latest_rn
       |  FROM applied
       |  WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$SnapshotTs'
       |), state AS (
       |  SELECT user_id, event_type, COUNT(*) AS version,
       |    MAX(CASE WHEN latest_rn = 1 THEN op END) AS last_op
       |  FROM ranked GROUP BY 1, 2
       |)
       |SELECT 't' || (user_id % 4) AS tenant_id,
       |  COUNT(*) AS n_entities,
       |  CAST(SUM(CASE WHEN last_op = 'put' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_live,
       |  CAST(SUM(CASE WHEN last_op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tombstoned,
       |  CAST(SUM(version) AS BIGINT) AS version_sum,
       |  CAST(SUM(user_id * version) AS BIGINT) AS state_checksum
       |FROM state GROUP BY 1""".stripMargin

  /** P2 produce — the OP-AWARE changefeed (T1 → T2]: D10's snapshot
    * diff computed over the tombstone-aware replays, so a change
    * record carries the entity's new lineage AND its latest op — a
    * `delete` op2 is the CDC tombstone record F10b's purge pass
    * consumes. Non-noop records are what a real feed ships. */
  private[graft] def cdcFeedOps(spark: SparkSession, dir: String,
                                cut1: String = SnapshotTs,
                                cut2: String = SnapshotTs2): DataFrame = {
    val t1 = cdcBase(spark, dir, cut1)
      .select(col("user_id"), col("event_type"), col("version").as("v1"))
    val t2 = opSnapshotReplay(spark, dir, cut2)
      .select(col("user_id"), col("event_type"), col("version").as("v2"),
        col("n_deletes").as("nd2"), col("last_op").as("op2"),
        col("last_value").as("val2"))
    t1.join(t2, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(col("v1").isNull, "insert")
          .when(col("v2") > col("v1"), "update")
          .otherwise("noop").as("change_type"),
        col("v2").as("version"), col("nd2").as("n_deletes"),
        col("op2").as("last_op"), col("val2").as("last_value"))
  }

  /** P2 `pipeline_cdc_roundtrip` — the CDC loop CLOSED under one
    * plan: D10-produce (op-aware snapshot diff T1→T2) → D12-apply
    * (merge the compacted feed onto the stored T1 state) →
    * D9/F10b-classify (the reconstructed entity set partitioned into
    * live rows and the purge list via `is_purged`). The ORACLE is the
    * direct tombstone-aware T2 replay, so the driver hash-proves the
    * loop's invariant end-to-end:
    * apply(state(T1), produce(T1→T2]) ≡ replay(T2) — including
    * tombstones, which D10/D12 alone never exercised (their snapshots
    * were op-blind).
    *
    * Scale: the T1/T2 replays share the one entity-key shuffle of the
    * applied stream (same subtree, D10's economics); the apply merge
    * and the final classification ride the same key — at 100 TB the
    * stored base is a table read, the feed is the day's changes, and
    * the merge is one co-partitioned join. */
  def cdcRoundtrip(spark: SparkSession, dir: String,
                   cut1: String = SnapshotTs,
                   cut2: String = SnapshotTs2): DataFrame = {
    val base = cdcBase(spark, dir, cut1)
    val delta = cdcFeedOps(spark, dir, cut1, cut2)
      .filter(col("change_type") =!= "noop")
      .select(col("user_id"), col("event_type"), col("version").as("v2"),
        col("n_deletes").as("nd2"), col("last_op").as("op2"),
        col("last_value").as("val2"))
    base.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        coalesce(col("v2"), col("version")).as("version"),
        coalesce(col("nd2"), col("n_deletes")).as("n_deletes"),
        coalesce(col("op2"), col("last_op")).as("last_op"),
        coalesce(col("val2"), col("last_value")).as("last_value"))
      .withColumn("is_purged", col("last_op") === "delete")
  }

  def cdcRoundtripSql(cut2: String = SnapshotTs2): String =
    s"""WITH $appliedSqlCte,
       |ranked AS (
       |  SELECT *,
       |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY ts DESC, event_id DESC) AS latest_rn
       |  FROM applied
       |  WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '$cut2'
       |)
       |SELECT user_id, event_type,
       |  COUNT(*) AS version,
       |  CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deletes,
       |  MAX(CASE WHEN latest_rn = 1 THEN op END) AS last_op,
       |  MAX(CASE WHEN latest_rn = 1 THEN value END) AS last_value,
       |  MAX(CASE WHEN latest_rn = 1 THEN op END) = 'delete' AS is_purged
       |FROM ranked GROUP BY 1, 2""".stripMargin

  /** D11 `persist_conflict_check` — OPTIMISTIC-CONCURRENCY conflict
    * detection, the commit-protocol check a snapshot-isolated table
    * format (Delta/Iceberg-style, and the reference's conditional
    * writes generalized from one row to a transaction) runs at commit
    * time: a commit attempt that read the table at its start must
    * RETRY if some other attempt COMMITTED a write to one of its keys
    * while it was in flight. Attempts here are per-writer MICRO-BATCH
    * commits — writer = the tenant's ingest service, one attempt per
    * (tenant, hour): start = the attempt's first applied write ts,
    * commit = its last; write set = the event_types it touched (the
    * single-table design's partition keys). Attempt X conflicts with
    * Y iff they share a key, Y committed inside X's in-flight window
    * (start_X <= commit_Y), and Y commits BEFORE X in the
    * deterministic commit order (commit ts, writer as tie-break) —
    * the standard non-recursive conflict-candidate set of
    * first-committer-wins OCC. Output per attempt: its window,
    * write-set size, conflict count and the first conflicting writer.
    *
    * Scale: a METADATA-plane query (N4's economics) — the attempt
    * and key tables are O(commits), not O(rows); the raw write
    * stream collapses once per grouping. Hour-scoped attempt windows
    * mean a conflicting commit shares the HOUR, so the candidate
    * join is keyed (date, hour, key) and fan-in per key is bounded
    * by concurrent WRITERS (tenants), never by row volume — the
    * realistic commit-protocol cardinality (a table has a handful of
    * concurrent committers, each batching many rows). */
  def conflictCheck(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass over the applied stream: per-(attempt, key) rollup;
    // the attempt table re-aggregates THAT (O(commits) rows), so the
    // 600k-row window subtree executes once, not once per branch
    val byKey = applied(spark, dir).select(
        Obs.tenant.as("writer_id"), Obs.ingestDate.as("txn_date"),
        hour(col("ts")).as("txn_hour"), col("event_type"), col("ts"))
      .groupBy(col("writer_id"), col("txn_date"), col("txn_hour"),
        col("event_type"))
      .agg(min(col("ts")).as("k_min"), max(col("ts")).as("k_max"))
    val attempts = byKey
      .groupBy(col("writer_id"), col("txn_date"), col("txn_hour"))
      .agg(min(col("k_min")).as("start_ts"), max(col("k_max")).as("commit_ts"),
        count(lit(1)).as("n_keys"))
    val keyed = byKey.select(col("writer_id"), col("txn_date"),
        col("txn_hour"), col("event_type"))
      .join(attempts.drop("n_keys"), Seq("writer_id", "txn_date", "txn_hour"))
    val x = keyed.select(col("writer_id").as("xw"), col("txn_date"),
      col("txn_hour"), col("event_type"), col("start_ts").as("xs"),
      col("commit_ts").as("xc"))
    val y = keyed.select(col("writer_id").as("yw"), col("txn_date"),
      col("txn_hour"), col("event_type"), col("commit_ts").as("yc"))
    val conflicts = x.join(y, Seq("txn_date", "txn_hour", "event_type"))
      .filter(col("yw") =!= col("xw") && col("yc") >= col("xs") &&
        (col("yc") < col("xc") ||
          (col("yc") === col("xc") && col("yw") < col("xw"))))
      .groupBy(col("xw").as("writer_id"), col("txn_date"), col("txn_hour"))
      .agg(countDistinct(col("yw")).as("conf"),
        min(col("yw")).as("first_conflict_writer"))
    attempts.join(conflicts, Seq("writer_id", "txn_date", "txn_hour"), "left")
      .select(col("writer_id"), col("txn_date"), col("txn_hour"),
        col("start_ts"), col("commit_ts"), col("n_keys"),
        coalesce(col("conf"), lit(0L)).as("n_conflicts"),
        (coalesce(col("conf"), lit(0L)) > 0).as("must_retry"),
        col("first_conflict_writer"))
  }

  def conflictCheckSql: String =
    s"""WITH $appliedSqlCte, att AS (
       |  SELECT 't' || (user_id % 4) AS writer_id,
       |    strftime(ts, '%Y-%m-%d') AS txn_date,
       |    CAST(hour(ts) AS INT) AS txn_hour,
       |    CAST(MIN(ts) AS TIMESTAMP) AS start_ts,
       |    CAST(MAX(ts) AS TIMESTAMP) AS commit_ts,
       |    COUNT(DISTINCT event_type) AS n_keys
       |  FROM applied GROUP BY 1, 2, 3
       |), ak AS (
       |  SELECT DISTINCT 't' || (user_id % 4) AS writer_id,
       |    strftime(ts, '%Y-%m-%d') AS txn_date,
       |    CAST(hour(ts) AS INT) AS txn_hour, event_type
       |  FROM applied
       |), keyed AS (
       |  SELECT ak.writer_id, ak.txn_date, ak.txn_hour, ak.event_type,
       |    start_ts, commit_ts
       |  FROM ak JOIN att USING (writer_id, txn_date, txn_hour)
       |), conf AS (
       |  SELECT x.writer_id, x.txn_date, x.txn_hour,
       |    COUNT(DISTINCT y.writer_id) AS n_conflicts,
       |    MIN(y.writer_id) AS first_conflict_writer
       |  FROM keyed x JOIN keyed y
       |    ON x.txn_date = y.txn_date AND x.txn_hour = y.txn_hour
       |    AND x.event_type = y.event_type
       |    AND y.writer_id <> x.writer_id
       |    AND y.commit_ts >= x.start_ts
       |    AND (y.commit_ts < x.commit_ts
       |         OR (y.commit_ts = x.commit_ts AND y.writer_id < x.writer_id))
       |  GROUP BY 1, 2, 3
       |)
       |SELECT att.writer_id, att.txn_date, att.txn_hour, start_ts, commit_ts,
       |  n_keys,
       |  COALESCE(n_conflicts, 0) AS n_conflicts,
       |  COALESCE(n_conflicts, 0) > 0 AS must_retry,
       |  first_conflict_writer
       |FROM att LEFT JOIN conf USING (writer_id, txn_date, txn_hour)""".stripMargin

  /** D6 `persist_compacted_upsert` — INCREMENTAL maintenance of the
    * D2 upsert state: fold all history up to a compaction cutoff into
    * a per-entity BASE segment (version so far + latest attributes +
    * the stored idempotency key), then replay only the TAIL (writes
    * after the cutoff) on top, seeding each entity's conditional-write
    * comparison from the base's stored key. This is the mechanic that
    * makes a Spark-backed store viable at 100 TB: D2 recomputes from
    * the full write history, but a nightly job only ever needs
    * base ⊕ yesterday's tail — the base is stored bucketed by entity
    * (zero-shuffle re-read, D2b's layout) and the tail is a day's
    * increment, so cost tracks the INCREMENT, not the history.
    *
    * Correctness seed: a suppressed write carries the same key as its
    * raw predecessor, so by induction the last RAW write's key up to
    * the cutoff equals the last APPLIED key — the base's stored ik is
    * exactly what the first tail write must compare against (the same
    * induction that justifies D2's lag form). The ORACLE is D2's
    * full-replay SQL verbatim: the driver hash-proves that the
    * incremental path reproduces the full recompute bit-for-bit. */
  def compactedUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(SnapshotTs).cast("timestamp")
    val wLatest = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    // base segment: D2's replay restricted to ts <= cutoff, carrying
    // the stored idempotency key the next write compares to
    val base = applied(spark, dir)
      .filter(col("ts") <= cutoff)
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("base_version"),
        max(when(col("latest_rn") === 1, col("value"))).as("base_value"),
        max(when(col("latest_rn") === 1, col("ts"))).as("base_ts"),
        max(when(col("latest_rn") === 1, col("ik"))).as("base_ik"))
    // tail: raw writes after the cutoff; the first write of each
    // entity compares against the base's stored key, later ones lag
    // within the tail
    val wSeq = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val tailApplied = Tables.events(spark, dir)
      .filter(col("ts") > cutoff)
      .withColumn("ik", concat(lit("ik"), pmod(col("event_id"), lit(5))))
      .withColumn("prev_ik", lag(col("ik"), 1).over(wSeq))
      .join(base.select(col("user_id"), col("event_type"), col("base_ik")),
        Seq("user_id", "event_type"), "left")
      .withColumn("cmp_ik", coalesce(col("prev_ik"), col("base_ik")))
      .filter(col("cmp_ik").isNull || col("ik") =!= col("cmp_ik"))
    val tailAgg = tailApplied
      .withColumn("latest_rn", row_number().over(wLatest))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("tail_version"),
        max(when(col("latest_rn") === 1, col("value"))).as("tail_value"),
        max(when(col("latest_rn") === 1, col("ts"))).as("tail_ts"),
        max(when(col("latest_rn") === 1, col("ik"))).as("tail_ik"))
    base.join(tailAgg, Seq("user_id", "event_type"), "outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("base_version"), lit(0L)) +
          coalesce(col("tail_version"), lit(0L))).as("version"),
        coalesce(col("tail_value"), col("base_value")).as("last_value"),
        coalesce(col("tail_ts"), col("base_ts")).as("last_ts"),
        coalesce(col("tail_ik"), col("base_ik")).as("last_ik"))
  }

  /** D7 `persist_scd2` — the FULL-HISTORY twin of D2's latest-state
    * upsert: a type-2 slowly-changing-dimension table over the same
    * applied-write stream. D2 keeps each entity's latest row (the
    * DynamoDB item the reference serves); D7 keeps every applied
    * version with its validity interval — `valid_from` = the write's
    * time, `valid_to` = the NEXT applied write's time (null while
    * current) — so any past state is answerable by interval
    * containment instead of a log replay (E10 is that read). This is
    * the warehouse-side history table a DynamoDB-stream consumer
    * would maintain next to the store.
    *
    * Scale: version, valid_to and the current flag all come from the
    * SAME (entity, ts) window ordering, so Catalyst plans ONE
    * Exchange shared by row_number and lead — appending a day's
    * writes extends each touched entity's chain by closing one open
    * interval, exactly the incremental shape D6 exploits. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    applied(spark, dir)
      .withColumn("version", row_number().over(wSeq))
      .withColumn("valid_to", lead(col("ts"), 1).over(wSeq))
      .select(col("user_id"), col("event_type"), col("version"),
        col("value"), col("ik"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  def scd2HistorySql: String =
    s"""WITH $appliedSqlCte
       |SELECT user_id, event_type,
       |  CAST(ROW_NUMBER() OVER w AS INT) AS version,
       |  value, ik,
       |  CAST(ts AS TIMESTAMP) AS valid_from,
       |  CAST(LEAD(ts, 1) OVER w AS TIMESTAMP) AS valid_to,
       |  (LEAD(ts, 1) OVER w IS NULL) AS is_current
       |FROM applied
       |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin

  /** Patient-profile SCD2 — D7's discipline applied to D5's
    * profile-update stream (signup events through the conditional-
    * write rule, entity = patient): every profile version with its
    * validity interval. Feeds E10's point-in-time profile read; not
    * a registry entry itself (E10's oracle embeds the CTE). */
  private[operators] def profileHistory(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .withColumn("ik", concat(lit("ik"), pmod(col("event_id"), lit(5))))
      .withColumn("prev_ik", lag(col("ik"), 1).over(wSeq))
      .filter(col("prev_ik").isNull || col("ik") =!= col("prev_ik"))
      .withColumn("profile_version", row_number().over(wSeq))
      .withColumn("valid_to", lead(col("ts"), 1).over(wSeq))
      .select(col("user_id"), col("profile_version"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  /** The profile-history CTE in SQL — mirrors [[profileHistory]];
    * interval bounds are cast to microsecond TIMESTAMP here so E10's
    * containment comparison happens at the same precision Spark
    * loads (events.ts is parquet NANOS — see Tables.events). */
  private[operators] def profileHistorySqlCte: String =
    """meta_applied AS (
      |  SELECT * FROM (
      |    SELECT user_id, ts, event_id, 'ik' || (event_id % 5) AS ik,
      |      LAG('ik' || (event_id % 5)) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS prev_ik
      |    FROM events WHERE event_type = 'signup'
      |  ) WHERE prev_ik IS NULL OR ik <> prev_ik
      |), profile_hist AS (
      |  SELECT user_id,
      |    CAST(ROW_NUMBER() OVER w AS INT) AS profile_version,
      |    CAST(ts AS TIMESTAMP) AS valid_from,
      |    CAST(LEAD(ts, 1) OVER w AS TIMESTAMP) AS valid_to
      |  FROM meta_applied
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)""".stripMargin

  /** Tombstone-aware profile history — [[profileHistory]] with D9's
    * delete rule threaded through the profile-update stream: an
    * applied signup whose event_id % 7 == 0 is a profile DELETE. A
    * delete needs no special interval surgery — it is simply the next
    * applied op, so the preceding put's `lead(ts)` closes that
    * interval at the delete's time for free; the delete itself emits
    * NO interval, leaving the span [delete.ts, next put.ts) with no
    * current profile (E12 reads that gap as a NULL profile — the
    * GDPR-deleted state). A later put resurrects the patient with the
    * version lineage intact (profile_version numbers every applied
    * op, deletes included). Same one-shuffle economics as D7. */
  private[graft] def profileHistoryTombstoned(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .withColumn("ik", concat(lit("ik"), pmod(col("event_id"), lit(5))))
      .withColumn("prev_ik", lag(col("ik"), 1).over(wSeq))
      .filter(col("prev_ik").isNull || col("ik") =!= col("prev_ik"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(7)) === 0, "delete").otherwise("put"))
      .withColumn("profile_version", row_number().over(wSeq))
      .withColumn("valid_to", lead(col("ts"), 1).over(wSeq))
      .filter(col("op") === "put")
      .select(col("user_id"), col("profile_version"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  /** The tombstone-aware history in SQL — mirrors
    * [[profileHistoryTombstoned]]; `profile_live` is the put-interval
    * slice E12's oracle joins against. */
  private[operators] def profileHistoryTombSqlCte: String =
    """meta_applied AS (
      |  SELECT * FROM (
      |    SELECT user_id, ts, event_id, 'ik' || (event_id % 5) AS ik,
      |      LAG('ik' || (event_id % 5)) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS prev_ik
      |    FROM events WHERE event_type = 'signup'
      |  ) WHERE prev_ik IS NULL OR ik <> prev_ik
      |), profile_all_ops AS (
      |  SELECT user_id,
      |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
      |    CAST(ROW_NUMBER() OVER w AS INT) AS profile_version,
      |    CAST(ts AS TIMESTAMP) AS valid_from,
      |    CAST(LEAD(ts, 1) OVER w AS TIMESTAMP) AS valid_to
      |  FROM meta_applied
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), profile_live AS (
      |  SELECT user_id, profile_version, valid_from, valid_to
      |  FROM profile_all_ops WHERE op = 'put'
      |)""".stripMargin

  /** D5 `persist_patient_meta` — the patient-profile META row the
    * reference's getPatient reads (services/api-query/src/handler.ts:
    * 41-57: name / birthDate / lastUpdated off the PATIENT#<id> META
    * item, written by the registry-update path). The profile-update
    * stream is synthesized from signup events (each signup = one
    * registry upsert touching the profile), replayed through the SAME
    * conditional-write idempotency rule as D2 — entity here is the
    * patient, so the lag window partitions on user_id alone. The META
    * row is the latest applied state: version = applied-write count,
    * lastUpdated = the last applied write's time. name/birthDate are
    * registry attributes, derived deterministically from the patient
    * id (the testdata carries no profile payload).
    *
    * Served from the [[store]]'s `profile`, which holds these rows
    * next to the registry attributes: the read is a scan of cached
    * blocks. The replay itself ([[metaFrom]]) runs once per landing,
    * over the store's patient-partitioned `obs`, with no Exchange.
    *
    * The write stream is validated FIRST (C6,
    * [[Normalize.patientValid]] — the normalized.patient.v1 schema
    * check): a rejected profile write never reaches the store, so the
    * conditional-write idempotency rule applies among VALID writes
    * only — validation happens at normalize, before persist, exactly
    * the reference's stage order. */
  def patientMeta(spark: SparkSession, dir: String): DataFrame =
    store(spark, dir).profile.drop("segment", "balance")

  private def metaFrom(obs: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Normalize.patientDtoFrom(obs)
      .filter(Normalize.patientValid)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("ik", concat(lit("ik"), pmod(col("event_id"), lit(5))))
      .withColumn("prev_ik", lag(col("ik"), 1).over(wSeq))
      .filter(col("prev_ik").isNull || col("ik") =!= col("prev_ik"))
      .groupBy(Obs.tenant.as("tenant_id"), col("user_id").as("patient_id"))
      .agg(count(lit(1)).as("version"), max(col("ts")).as("last_updated"))
      .select(col("tenant_id"), col("patient_id"),
        concat(lit("patient-"), col("patient_id")).as("name"),
        date_add(to_date(lit("1950-01-01")),
          pmod(col("patient_id") * 37, lit(18250)).cast("int")).as("birth_date"),
        col("version"), col("last_updated"))
  }

  /** The META-row CTE in SQL — single source of truth shared by the
    * D5 oracle and E1's (api_get_patient) point-lookup oracle. */
  def patientMetaSqlCte: String =
    s"""${Normalize.patientDtoSqlCte},
      |valid_profile_writes AS (
      |  SELECT user_id, ts, event_id FROM patient_dto
      |  WHERE ${Normalize.patientValidSql}
      |), meta_applied AS (
      |  SELECT * FROM (
      |    SELECT user_id, ts, event_id, 'ik' || (event_id % 5) AS ik,
      |      LAG('ik' || (event_id % 5)) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS prev_ik
      |    FROM valid_profile_writes
      |  ) WHERE prev_ik IS NULL OR ik <> prev_ik
      |), meta AS (
      |  SELECT 't' || (user_id % 4) AS tenant_id,
      |    user_id AS patient_id,
      |    'patient-' || user_id AS name,
      |    DATE '1950-01-01' + CAST((user_id * 37) % 18250 AS INT) AS birth_date,
      |    COUNT(*) AS version,
      |    CAST(MAX(ts) AS TIMESTAMP) AS last_updated
      |  FROM meta_applied GROUP BY 1, 2
      |)""".stripMargin

  def patientMetaSql: String =
    s"""WITH $patientMetaSqlCte
       |SELECT tenant_id, patient_id, name, birth_date, version, last_updated
       |FROM meta""".stripMargin

  /** D13 `persist_ivm_join` — incremental maintenance of a JOIN
    * view: the revenue-per-customer view V = γ_custkey(lineitem ⋈
    * orders) maintained under a lineitem delta batch using the
    * delta-join algebra ΔV = γ(Δlineitem ⋈ orders) merged into the
    * stored base partials — the join-view counterpart of K1b's
    * aggregate-view maintenance (q1_incremental), and what a real
    * warehouse does instead of re-running the full join on every
    * late-arriving batch. Single-scan discipline: the base/delta
    * segment flag (shipdate cutoff) joins the GROUP BY key, so the
    * partial table is exactly the stored-base + delta-batch layout
    * (one partial row per customer per segment) without a second
    * lineitem read; the merge sums exact decimal partials — decimal
    * addition is associative, so merging base + delta is bit-equal
    * to the full recompute the oracle states. At 100 TB the delta
    * branch reads only the delta partition (shipdate pushdown) and
    * the orders side of Δ⋈orders is keyed equi — the base is never
    * re-joined. */
  def ivmJoinView(spark: SparkSession, dir: String,
                  cutoff: String = "1997-01-01"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val ords = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, dir)
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"),
        (col("l_shipdate") < lit(cutoff).cast("timestamp")).as("seg_base"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(dec)).as("p_rev"),
        count(lit(1)).as("p_n"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("p_rev")).cast("double").as("revenue"),
        sum(col("p_n")).as("n_lines"))
  }

  def ivmJoinViewSql: String =
    """SELECT o_custkey,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1""".stripMargin

  val registry: Seq[(String, Entry)] = Seq(
    // the merged base+delta partials must equal the full recompute
    "persist_ivm_join" -> Entry((s, d) => ivmJoinView(s, d), ivmJoinViewSql, shuffles = 2),
    "persist_key_design" -> Entry(keyDesign _, keyDesignSql, shuffles = 0),
    "persist_upsert_version" -> Entry(upsertVersion _, upsertVersionSql, shuffles = 0),
    "persist_upsert_bucketed" -> Entry(upsertVersionBucketed _, upsertVersionSql, shuffles = 0),
    "persist_commit_log" -> Entry(commitLog _, commitLogSql, shuffles = 1),
    "persist_vacuum_plan" -> Entry((s, d) => vacuumPlan(s, d), vacuumPlanSql(), shuffles = 2),
    "param_vacuum_plan" -> Entry((s, d) => vacuumPlan(s, d, horizon = "2024-01-08 00:00:00"),
      vacuumPlanSql(horizon = "2024-01-08 00:00:00"), shuffles = 2),
    "persist_patient_meta" -> Entry(patientMeta _, patientMetaSql, shuffles = 0),
    // the incremental path must reproduce the FULL replay bit-for-bit
    "persist_compacted_upsert" -> Entry(compactedUpsert _, upsertVersionSql, shuffles = 3),
    "persist_scd2" -> Entry(scd2History _, scd2HistorySql,
      shuffles = 1), // row_number + lead share one entity window
    "persist_tombstone" -> Entry(tombstoneState _, tombstoneStateSql,
      shuffles = 1), // applied window + agg share the entity exchange
    "persist_changefeed" -> Entry(changefeed _, changefeedSql,
      shuffles = 3), // two snapshot replays + entity-key diff join
    "persist_cdc_apply" -> Entry(cdcApply _, cdcApplySql,
      shuffles = 4), // T1 replay + changefeed's two replays + entity-key merge join
    "persist_conflict_check" -> Entry(conflictCheck _, conflictCheckSql,
      shuffles = 11), // per-(attempt,key) rollup + attempts re-agg + (date,hour,key) candidate join + retry-set agg — all over O(commits) metadata rows, never event rows; 11 cold / 10 when an earlier suite's cache lets AQE convert one SMJ (ceiling = cold)
    // the produce→apply→classify chain must equal the direct T2 replay
    "pipeline_cdc_roundtrip" -> Entry((s, d) => cdcRoundtrip(s, d), cdcRoundtripSql(),
      shuffles = 3), // shared T1 subtree + T2 replay + merge (diff/apply ride the entity exchange)
    "persist_export_manifest" -> Entry(exportManifest _, exportManifestSql, shuffles = 2),
    // a second window: T1 = the default run's T2, T2 eight days later —
    // proves the roundtrip invariant is window-independent
    "param_cdc_roundtrip" -> Entry((s, d) =>
      cdcRoundtrip(s, d, cut1 = SnapshotTs2, cut2 = "2024-01-20 00:00:00"),
      cdcRoundtripSql(cut2 = "2024-01-20 00:00:00"), shuffles = 3),
    "persist_asof_snapshot" -> Entry(asofSnapshot _, asofSnapshotSql, shuffles = 1))
}
