package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over Array[Float] embedding columns as pure Column
  * pipelines (codegen'd higher-order functions — no UDFs, so the hot
  * path stays inside whole-stage codegen at 100 TB). The dot products
  * are native expressions ([[VectorExpressions]]).
  */
object VectorOps {

  /** Integer-exact quantization: round(x * scale) as long, each float
    * cast to double first (float*int promotion rules differ across
    * engines, double math is IEEE-identical everywhere). Quantized
    * dot products are integer arithmetic — deterministic ranks across
    * engines and partitionings (float summation order is not). */
  def vquantize(a: Column, scale: Double): Column =
    transform(a, x => round(x.cast("double") * scale).cast("long"))
}
