package graft

/** Both lineage-cut classes ([[Ckpt]]) serve identical results — the
  * r12 verdict's ask #5: the executor-local default is wrong for a
  * 1000-executor deployment with dynamic allocation (decommissioned
  * executors take their blocks, truncated lineage cannot recompute),
  * so `graft.checkpoint.dir` switches the hot seams (Graph's per-round
  * frontiers, Dedup's candidate pairs, the frozen ANN index, the
  * Bucketing stats store) to RELIABLE checkpoints. Results must be
  * bit-identical either way, and the reliable path must actually
  * write into the configured directory.
  */
class CheckpointSpec extends SparkSpecBase {

  // one op per verdict-named seam family
  private val pinned = Seq(
    "graph_pagerank",         // Graph's memoized per-round cuts
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
}
