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
  */
object Engine {
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

  /** Builder with every conf baked in at construction time. Setting
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

  /** Runtime confs safe to (re)apply on an externally created session. */
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
