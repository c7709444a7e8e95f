package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache holds a working pass: the
  * reference flow's eight stages and six Query API reads, run a
  * second time, reuse the classes their first run compiled. At
  * Spark's default cap (100 classes) the cache evicts that working
  * set (about 145 classes) before its reuse, and every pass compiles
  * it again. */
class CodegenSpec extends SparkSpecBase {

  /** B1, B2, B4, A1, A2, C2, P1, D2, then the Query API reads
    * perfbench serves: obsByPatient (the registry's and a
    * parameterized one), getPatient, latestObservation, patientBundle,
    * obsStats. */
  private val keys = Seq(
    "adapter_csv_labx", "adapter_hl7_obx", "adapter_json_generic",
    "ingest_envelope", "ingest_dedup_idempotency", "normalize_reject_counts",
    "pipeline_end_to_end", "persist_upsert_version",
    "api_obs_by_patient", "param_obs_by_patient", "api_get_patient",
    "api_latest_observation", "api_patient_bundle", "api_obs_stats")

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's generated-class cap is the engine's constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheEntries.toString)
  }

  test("a second round of the reference flow and its reads compiles no class") {
    def round(): Map[String, Long] = keys.map { k =>
      val c0 = compiled()
      run(k).write.mode("overwrite").format("noop").save()
      k -> (compiled() - c0)
    }.toMap
    val first = round()
    val second = round()
    assert(first.values.sum > 0, "the first round compiled nothing: the counter is not read")
    assert(second.values.sum == 0,
      s"second round compiled ${second.filter(_._2 > 0)} " +
        s"(first round compiled ${first.values.sum})")
  }
}
