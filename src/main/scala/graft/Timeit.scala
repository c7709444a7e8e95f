package graft

/** Dev tool: time (and optionally explain) individual queries from
  * SparkEntry at a given SF dir — the per-query slice of Bench for
  * plan iteration. Usage:
  *   runMain graft.Timeit <sfDir> [-x] <queryName>...
  * -x additionally prints the formatted executed plan. Conf overrides
  * come from SPARK_GRAFT_CONF ("k=v;k=v", as in Bench): e.g.
  * spark.sql.subexpressionElimination.enabled=false checks that a plan
  * stays fast with codegen subexpression elimination off.
  */
object Timeit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("-x")
    val names = args.drop(1).filterNot(_ == "-x")
    val spark = Engine.driver("graft-timeit").spark
    spark.sparkContext.setLogLevel("ERROR")
    Engine.warmUp(spark, sfDir)
    names.foreach { n =>
      // time construction + action: several registry queries (the
      // streaming twins, eval composites) do their real work eagerly
      // inside fn() — Bench times fn().write as one region, so must we
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val tBuild = (System.nanoTime - t0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      val tAll = (System.nanoTime - t0) / 1e9
      println(f"TIMEIT $n $tAll%.3f s (build $tBuild%.3f)")
      if (explain) df.explain("formatted")
    }
    spark.stop()
  }
}
