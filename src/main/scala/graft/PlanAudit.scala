package graft

/** Dev tool: sweep every SparkEntry query's physical plan and print
  * scale-hazard indicators — shuffle (Exchange) count, cartesian
  * products, nested-loop joins, and partition-less windows (all rows
  * through one task). Usage: runMain graft.PlanAudit <sfDir>
  * Hazards are indicators, not verdicts: a nested-loop join against a
  * contract-bounded broadcast side (API request tables) is fine; one
  * against a data-scaled side is not.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Engine.driver("graft-planaudit").spark
    spark.sparkContext.setLogLevel("ERROR")
    // windowspecdefinition whose FIRST argument is already a sort order
    // ("attr#id ASC/DESC ...") has no partition columns -> single-task
    // window. Anchored to the attr#id token so partition columns whose
    // NAMES contain ASC/DESC don't false-positive.
    val globalWindow = "windowspecdefinition\\(\\S+#\\d+L? (ASC|DESC)".r.unanchored
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
        val hazards = Seq(
          if (plan.contains("CartesianProduct")) Some("CARTESIAN") else None,
          if (plan.contains("BroadcastNestedLoopJoin")) Some("BNLJ") else None,
          if (globalWindow.findFirstIn(plan).isDefined) Some("GLOBAL_WINDOW") else None
        ).flatten
        // shuffles only: broadcast/reused exchanges are not shuffles
        val nExch = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
          .r.findAllIn(plan).size
        println(f"PLAN $name%-28s exch=$nExch ${hazards.mkString(" ")}")
      } catch {
        case e: Throwable => println(s"PLAN $name ERROR $e")
      }
    }
    spark.stop()
  }
}
