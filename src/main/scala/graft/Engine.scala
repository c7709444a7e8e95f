package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Scale notes (100 TB / 1000-executor design, tested on local[32]):
  *   - AQE on: runtime coalescing + skew-join splitting.
  *   - shuffle.partitions sized to cores locally; on a real cluster this
  *     is 2-3x total executor cores (AQE coalesces down).
  *   - ANSI off: permissive casts (malformed -> null) match ETL
  *     drop-and-count semantics (reference: libs/validation/dto.ts drops
  *     invalid rows instead of failing the batch).
  *   - Session TZ UTC so timestamp semantics match the oracle.
  *
  * Static confs, set once per JVM in [[builder]] (see
  * [[CodegenCacheEntries]] and [[uiRetention]]):
  *   - The generated-class cache holds [[CodegenCacheEntries]]
  *     classes, so a plan the session ran before reuses its compiled
  *     code instead of running Janino and the JIT again.
  *   - The UI status store keeps only the last few executions, jobs
  *     and stages: the UI is off and nothing in the engine reads the
  *     store, which otherwise holds up to 1000 SQL executions' plan
  *     strings, plan graphs and metrics.
  */
object Engine {
  /** `spark.sql.codegen.cache.maxEntries`, the size of Spark's cache
    * of compiled generated classes (Spark's default is 100). One pass
    * of the reference flow and its six Query API reads needs about 145
    * distinct classes, one curated corpus shard about 215, so at 100
    * the cache evicted every class before its reuse and every pass ran
    * Janino again (132-133 compiles per reference-flow pass, 210-211
    * per shard, about 13 ms each on the driver) and the JIT then
    * compiled the new classes (12-16 CPU-s per 6-7 s pass on 4 cores).
    * At 1024 a pass's second run compiles nothing but the Query API
    * reads whose patient and timestamp literals are inlined into the
    * generated Java (1-7 classes per call). The cost is heap: raising
    * the cap from 100 to 512 kept about 3 MB more live at an equal
    * pass count, about 28 KB per extra class. A full-registry
    * `graft.Bench` rep (405 keys round-robin) needs more classes than
    * any sane cap, so its warm medians still recompile; the cap is
    * sized to a working session, not to that sweep.
    *
    * It is a static conf: only [[builder]] can set it, and
    * [[configure]] cannot change it on a session built elsewhere. */
  val CodegenCacheEntries = 1024

  /** Status-store retention (`spark.sql.ui.retainedExecutions`,
    * `spark.ui.retainedJobs`, `spark.ui.retainedStages`,
    * `spark.ui.dagGraph.retainedRootRDDs`, `spark.ui.retainedTasks`).
    * Spark fills the store whether or not the UI runs, and at the
    * defaults one corpus curation run left about 70k `SQLPlanMetric`s
    * in it; the engine never reads it. Static, like the cache above. */
  private val uiRetention: Seq[(String, String)] = Seq(
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.ui.dagGraph.retainedRootRDDs" -> "20",
    "spark.ui.retainedTasks" -> "1000")

  /** The engine's runtime SQL confs, applied both at build time
    * ([[builder]]) and on an externally created session
    * ([[configure]]). */
  private val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    // events.parquet stores ts as TIMESTAMP(NANOS) which the vectorized
    // reader rejects; read as raw nanos and convert in Tables.events.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // testdata timestamps may arrive as µs isAdjustedToUTC=false;
    // with NTZ inference OFF the scan reads them directly as
    // session-TZ TIMESTAMP (UTC session → instant-preserving), so ts
    // predicates push into the parquet scan and row-group stats
    // still prune. Tables.load's per-column NTZ cast stays as a
    // belt-and-braces fallback for externally built sessions, but a
    // Cast-wrapped column defeats pushdown — this conf is the real
    // path.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // dims (region/nation/customer/supplier/part at dim scale) broadcast
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString)

  /** Builder with every conf baked in at construction time, static
    * ones included. Setting
    * them only post-hoc via spark.conf.set is NOT enough: parallel
    * planning/schema-inference threads read a thread-local SQLConf
    * that may miss late runtime sets (seen as nondeterministic
    * PARQUET_TYPE_ILLEGAL on the nanos-timestamped events table). */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(uiRetention.toMap)
      .config(sqlConfs.toMap)
      // per-process dir: the in-memory catalog forgets tables between
      // JVMs but their directories would survive, and saveAsTable
      // refuses to reuse an existing location
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")

  def session(appName: String = "graft", cores: String = "*"): SparkSession = {
    val spark = builder(s"local[$cores]",
      Runtime.getRuntime.availableProcessors()).appName(appName).getOrCreate()
    configure(spark)
    spark
  }

  /** A command-line tool's session (Bench, Verify, Timeit, PlanAudit,
    * ScaleGen) with the settings it ran under. */
  final case class Driver(spark: SparkSession, cpus: Int, master: String,
      overrides: Seq[(String, String)])

  /** The tools' one session factory, set from the environment:
    * `SPARK_GRAFT_CPUS` (default: this machine's cores) sizes the
    * shuffle partitions and the default master `local[cpus]`;
    * `SPARK_GRAFT_MASTER` overrides the master (e.g.
    * `local-cluster[2,8,4096]`, where broadcasts and closures cross
    * real executor JVMs); `SPARK_GRAFT_CONF` holds measurement-time
    * conf overrides ([[applyConf]]), so an A/B reuses a tool without
    * code edits. */
  def driver(appName: String): Driver = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = configure(builder(master, cpus).appName(appName).getOrCreate())
    Driver(spark, cpus, master,
      applyConf(spark, sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
  }

  /** A fixed cheap rollup over lineitem into the noop sink: it warms
    * the JVM and codegen paths, so a tool's first measured query does
    * not absorb session start-up (~3-4 s of JIT and codegen compile).
    * Bench also times it as its load canary. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.mode("overwrite").format("noop").save()

  /** Conf gate for the documented O(n²) correctness baselines (H2
    * `sim_cosine_pairs`, G3 `dedup_ngram_jaccard`). They exist to
    * ground-truth the LSH/IVF scale paths and die at 100× data, so a
    * cluster deployment sets `graft.allowQuadraticBaselines=false`
    * and anything that would plan all-pairs fails fast instead.
    * Default true so local oracles and specs run unchanged (same
    * pattern as Dedup's `graft.dedup.clusters.driverMaxEdges`). */
  def requireQuadraticAllowed(spark: SparkSession, op: String): Unit =
    if (!spark.conf.get("graft.allowQuadraticBaselines", "true").toBoolean)
      throw new IllegalStateException(
        s"$op is an O(n^2) correctness baseline and " +
          "graft.allowQuadraticBaselines=false — run the bucketed scale " +
          "path (MinHash/LSH or IVF) instead")

  /** Runtime confs safe to (re)apply on an externally created session.
    * Static confs ([[CodegenCacheEntries]], [[uiRetention]]) are not
    * among them: a session built elsewhere keeps its own. */
  def configure(spark: SparkSession): SparkSession = {
    sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Measurement-time conf overrides: `spec` is `k=v` pairs separated
    * by `;`, so a value cannot contain `;`. Keys and values are
    * trimmed and empty tokens skipped; a token with no `=` or an empty
    * key fails fast. Returns the applied pairs, in order. */
  def applyConf(spark: SparkSession, spec: String): Seq[(String, String)] = {
    val pairs = spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) "" else kv.substring(0, i).trim
      if (k.isEmpty)
        throw new IllegalArgumentException(
          s"conf override '$kv' is not of the form key=value")
      k -> kv.substring(i + 1).trim
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    pairs
  }
}
