package graft.examples

import org.apache.spark.sql.functions._

/** Minimal runnable example of the END-TO-END pipeline (P1): the
  * reference's whole chain — envelope/adapter synth, sealed DTO
  * parse, Zod-equivalent validation, FHIR structural check, persisted
  * per-(patient, code) latest state — as one single-shuffle Spark
  * plan, followed by a point lookup the way the reference's
  * `latestObservation` resolver would serve it.
  * `sbt "runMain graft.examples.PipelineDemo"`. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("pipeline-demo", "4")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")

    // endToEnd reads the served store's cached blocks, so each of the
    // three actions below re-reads them instead of the parquet files
    val state = graft.operators.Normalize.endToEnd(spark, dir)
    println(s"persisted entities: ${state.count()}")
    state.orderBy(col("n_observations").desc, col("patient_id"), col("code"))
      .show(5, truncate = false)

    println("latestObservation(patient=13, code=purchase):")
    state.filter(col("patient_id") === "13" && col("code") === "purchase")
      .show(truncate = false)

    spark.stop()
  }
}
