package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The house lineage-cut seam.
  *
  * Every iterative operator (Graph's per-round frontiers, Dedup's
  * candidate-pair table, Bucketing's stats store, the frozen ANN index
  * artifacts) cuts lineage with [[cut]], and every fixed-round loop
  * (the PageRank family, label propagation, k-core peeling, the MMR
  * greedy steps, the quality classifier's epochs) runs through
  * [[rounds]], which cuts each round, frees the round it supersedes
  * and frees the loop's cut scaffolding (the MMR candidate pool) when
  * the loop ends or throws. The default cut,
  * `localCheckpoint()`, is eager and cheap, but its blocks live on
  * EXECUTORS: with dynamic allocation a decommissioned executor takes
  * its blocks with it, and a truncated-lineage RDD cannot be
  * recomputed — lost blocks are a job failure, not a slowdown.
  *
  * `cut` is the conf-gated switch between the two checkpoint classes:
  *
  *   - `graft.checkpoint.dir` unset (default) → `localCheckpoint()`:
  *     the right call for local[*] runs, tests, and benches (no HDFS
  *     round-trip).
  *   - `graft.checkpoint.dir=<fault-tolerant path>` → RELIABLE
  *     `checkpoint()` into that directory (HDFS/object store): blocks
  *     survive executor loss, which is the only correct mode for a
  *     long-lived many-executor deployment.
  *
  * Both are EAGER, both yield LogicalRDD leaves that [[release]]
  * frees, and results are bit-identical — CheckpointSpec pins result
  * equality on both paths. A cut table does not carry a partitioning
  * that later joins reuse: scaffolding joined on its key every round
  * is a scoped cache ([[Memo.scoped]]), not a cut.
  *
  * The rule for memoized checkpointed tables: they go through
  * [[Memo.checkpointed]], whose token always includes [[mode]], so a
  * mid-session mode flip rebuilds instead of serving the other mode's
  * blocks and releases the superseded ones. Reliable-mode files are
  * reclaimed by Spark's context cleaner
  * (`spark.cleaner.referenceTracking.cleanCheckpoints=true`) or by the
  * deployment's directory lifecycle policy.
  */
object Ckpt {
  /** "" for executor-local blocks, else the reliable checkpoint dir. */
  def mode(spark: SparkSession): String =
    spark.conf.get("graft.checkpoint.dir", "")

  /** Last dir applied per session — setCheckpointDir creates an HDFS
    * round-trip + a fresh UUID subdir, so only (re)apply on change. */
  private val applied =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()

  /** Cut `df`'s lineage; once the cut exists, release `spent`, the
    * cut tables it was built from that nothing reads any more. */
  def cut(df: DataFrame, spent: DataFrame*): DataFrame = {
    val spark = df.sparkSession
    val dir = mode(spark)
    val out =
      if (dir.isEmpty) df.localCheckpoint()
      else {
        val id = Integer.valueOf(System.identityHashCode(spark))
        // set-then-record, atomically per session: recording BEFORE the
        // set would make a failed setCheckpointDir (bad/unwritable path)
        // or a first-use race surface later as the opaque "checkpoint
        // directory has not been set" instead of the root cause
        applied.compute(id, (_, prev) => {
          if (!dir.equals(prev)) spark.sparkContext.setCheckpointDir(dir)
          dir
        })
        df.checkpoint()
      }
    spent.foreach(release)
    out
  }

  /** Best-effort unpersist of every checkpointed RDD a plan serves
    * from: a checkpointed table is a single LogicalRDD leaf; the BFS
    * accumulator is a union with one leaf per level — collectLeaves
    * releases them all. Safe mid-loop too: [[cut]] is EAGER, so by the
    * time round i+1 exists its data no longer depends on round i's
    * blocks. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A fixed-round loop over cut tables: `init` and each round
    * `step(prev, i)`, i = 1..n, are cut, and round i is released once
    * round i+1 exists. `held` is the loop's scaffolding, cut tables
    * every round reads (a candidate pool, its pairwise sims): they are
    * released when the loop ends, and a step that throws releases
    * the last round too, so a failed loop pins nothing. Returns
    * round n, whose leaf the caller owns. */
  def rounds(init: DataFrame, n: Int, held: DataFrame*)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    try {
      var cur = cut(init)
      try { for (i <- 1 to n) cur = cut(step(cur, i), cur); cur }
      catch { case e: Throwable => release(cur); throw e }
    } finally held.foreach(release)
  }

  /** `df.cutLineage()` — drop-in syntax for the old `.localCheckpoint()`
    * call sites. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = Ckpt.cut(df)
  }
}
