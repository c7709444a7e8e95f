package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Both lineage-cut classes ([[Ckpt]]) serve identical results — the
  * r12 verdict's ask #5: the executor-local default is wrong for a
  * 1000-executor deployment with dynamic allocation (decommissioned
  * executors take their blocks, truncated lineage cannot recompute),
  * so `graft.checkpoint.dir` switches the hot seams (Graph's per-round
  * frontiers, Dedup's candidate pairs, the frozen ANN index, the
  * Bucketing stats store) to RELIABLE checkpoints. Results must be
  * bit-identical either way, and the reliable path must actually
  * write into the configured directory. [[Ckpt.rounds]], the loop
  * every fixed-round operator runs through, must leave only its
  * result's blocks behind, and the PageRank family's scoped adjacency
  * must keep its partitioning across the rounds.
  */
class CheckpointSpec extends SparkSpecBase {

  // one op per verdict-named seam family
  private val pinned = Seq(
    "graph_pagerank",         // Graph's memoized per-round cuts
    "text_textrank",          // the shared PageRank round, weighted
    "graph_components",       // BFS/label-propagation union-of-leaves
    "dedup_clusters",         // Dedup candidate-pair seam + union-find
    "sim_index_refresh",      // frozen codebook + day-1 inverted file
    "store_stats_incremental" // Bucketing stats store
  )

  private def canon(name: String): Seq[Seq[Any]] =
    run(name).collect().toSeq.map(_.toSeq)
      .sortBy(_.map(String.valueOf).mkString("\u0000"))

  test("reliable checkpoints (graft.checkpoint.dir) ≡ local checkpoints") {
    val local = pinned.map(n => n -> canon(n)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_spec").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val reliable = pinned.map(n => n -> canon(n)).toMap
      for (n <- pinned)
        assert(local(n) == reliable(n),
          s"$n: reliable-checkpoint result diverged from local")
      // the reliable path must have ENGAGED: checkpoint rdd files exist
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(wrote > 0, s"no reliable checkpoint was written under $dir")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
      // results cached under the reliable token must not leak into
      // later suites' default-mode runs (memo keys are mode-aware, so
      // simply unsetting is enough for correctness; the temp dir dies
      // with the CI workspace)
    }
  }

  /** Persisted RDDs still reachable: Spark tracks them weakly, so
    * collect first and count only what something still holds. */
  private def livePersisted(): Int = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.size
  }

  private def leafIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }

  private def table(v: Column): DataFrame =
    spark.range(0, 100).select(col("id").as("k"), v.as("v"))

  test("Ckpt.rounds leaves only the result's leaf; a failed round pins nothing") {
    val before = livePersisted()
    val held = Ckpt.cut(table(col("id") % 7))
    val read = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Ckpt.rounds(table(lit(0L)), 5, held) { (prev, i) =>
      read ++= leafIds(prev)
      prev.join(held.withColumnRenamed("v", "w"), "k")
        .select(col("k"), (col("v") + col("w") + i).as("v"))
    }
    assert(out.agg(sum("v")).head().getLong(0) ==
      (0 until 100).map(k => 5L * (k % 7) + 15).sum)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(read.size == 5)
    assert((leafIds(held) ++ read).forall(id => !live.contains(id)),
      "the held frame and every earlier round must be released")
    assert(leafIds(out).forall(live.contains))
    assert(livePersisted() == before + 1)
    Ckpt.release(out)
    assert(livePersisted() == before)

    val held2 = Ckpt.cut(table(col("id") % 7))
    val e = intercept[IllegalStateException] {
      Ckpt.rounds(table(lit(0L)), 5, held2) { (prev, i) =>
        if (i == 3) throw new IllegalStateException("round 3 fails")
        prev.join(held2.withColumnRenamed("v", "w"), "k")
          .select(col("k"), (col("v") + col("w")).as("v"))
      }
    }
    assert(e.getMessage == "round 3 fails")
    assert(livePersisted() == before,
      "a throwing step must release the held frame and the last round")
  }

  test("O1, O5 and textrank rounds read the adjacency with no shuffle") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the adjacency input (the one carrying `mark`) of every join that
    // reads a rank table: one per round
    def adjSides(mark: String): Seq[SparkPlan] =
      plans.asScala.toSeq.flatMap(flattenPlan).collect {
        case j: BaseJoinExec if j.children.exists(_.output.exists(_.name == "rank")) =>
          j.children.filter(_.output.exists(_.name == mark))
      }.flatten
    val iters = 2 // a memo key no other suite builds, so the rounds run here
    // no broadcast joins, as at scale, where the rank table is never
    // broadcast: a round's join then needs both sides hash-partitioned
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prevThreshold = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    for ((name, mark, build) <- Seq[(String, String, () => DataFrame)](
        ("O1", "d", () => operators.Graph.pagerank(spark, sf, iters = iters)),
        ("O5", "d", () => operators.Graph.personalizedPagerank(spark, sf, iters = iters)),
        ("textrank", "wtot", () => operators.TextAnalysis.textrank(spark, sf, iters = iters)))) {
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        build()
        // the listener bus is asynchronous
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (adjSides(mark).size < iters && System.nanoTime() < deadline)
          Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      val sides = adjSides(mark)
      assert(sides.size == iters, s"$name: expected one adjacency read per round")
      sides.foreach(p => assert(!flattenPlan(p).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$name: the adjacency side of a round shuffles:\n$p"))
    }
    spark.conf.set(threshold, prevThreshold)
  }
}
