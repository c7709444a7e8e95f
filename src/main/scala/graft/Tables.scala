package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-provided testdata tables.
  *
  * `events` plays the observation stream of the reference
  * (services/ingest -> normalize -> persist): user_id ~ patientId,
  * event_type ~ LOINC-ish code, value ~ observation value, ts ~
  * effectiveDateTime, props ~ raw JSON payload. `customer` plays the
  * patient registry; `documents`/`embeddings` feed the LLM-pipeline
  * operators; TPC-H tables exercise the relational/scale paths.
  */
object Tables {
  /** Driver-regenerated parquet sometimes carries
    * isAdjustedToUTC=false on its timestamp columns, which Spark
    * surfaces as TIMESTAMP_NTZ (earlier drops were UTC-adjusted or
    * TIMESTAMP(NANOS)). Normalize every NTZ column to session-TZ
    * TIMESTAMP at load: the session is pinned UTC (Engine.configure),
    * so the cast is instant-preserving, and downstream plans, specs,
    * and the DuckDB-oracle dtypes stay stable across data refreshes. */
  private def load(spark: SparkSession, dir: String, name: String,
      fan: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schema(spark, path)).parquet(path)
    val ntz = raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (df, f) => df.withColumn(f.name, col(f.name).cast(TimestampType))
    }
    if (fan) fanOutUnsplittable(spark, path, ntz) else ntz
  }

  /** The parquet schema of the table at `path`, inferred once per
    * version of it: without a given schema, every `spark.read.parquet`
    * runs a one-task footer-reading job (about 55 ms of job time on a
    * 4-core box). The token is the path's listing stamp, like every
    * memo's, plus the two confs that change how the footer's timestamp
    * types map to Spark types. */
  private def schema(spark: SparkSession, path: String): StructType =
    Memo.value(spark, s"tables.schema:$path", Seq(path),
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")) {
      spark.read.parquet(path).schema
    }

  /** Layout-aware read parallelization (optimization guide §2.5,
    * "input skew: one huge unsplittable file ... otherwise repartition
    * immediately after the read").
    *
    * Parquet is splittable only at ROW-GROUP boundaries: a table whose
    * files hold fewer row groups than the session has cores executes
    * every scan-side stage — decode, tokenize/explode, partial
    * aggregation — on that many tasks no matter how many cores exist
    * (measured here: single-row-group testdata ran q1's whole partial
    * aggregate on 1 of 32 cores, 1.3 s for a 0.1 s job). When the
    * layout offers fewer independent splits than
    * `defaultParallelism`, fan the rows out ONCE right after the scan
    * with a round-robin repartition; deterministic filters and column
    * pruning still push below the repartition, so the fanned-out
    * shuffle carries only what the query reads.
    *
    * OPT-IN per call site (r14 re-measure): applied unconditionally,
    * the fan-out exchange was a registry-wide net LOSS — the r14
    * full-registry A/B (REPS=3, flat canaries both runs) read 370.1 s
    * fanned vs 289.0 s not, because for ~300 short queries the extra
    * Exchange + sort-before-repartition costs 0.2-0.5 s while the
    * post-scan work is too small to amortize it. Only pipelines whose
    * per-row compute dominates the shuffle keep it (REPS=7 isolated
    * A/B, winners only): the char-explode entropy pass (+1.0 s), BPE
    * training (+0.24), q1's 8-aggregate pass (+0.37), PNG decode
    * (+0.17), PII scrub (+0.14). Those call `Tables.lineitem` or
    * `Tables.documents` with `fan = true`; everything else reads
    * unfanned. (The HL7 parse and envelope validation, winners of the
    * same A/B, read the served `Persist.store`, which is already split
    * `defaultParallelism` ways.) A 4-core re-measure (graft.Bench at
    * sf0.1, REPS=5, 3 alternating pairs, every canary max/median
    * ≤ 2.1) against a copy with the gate's repartition removed kept
    * it: the 15 fanned keys summed 14.9 s of medians with the gate
    * and 19.6 s without (text_entropy 2.13 → 3.64 s, q1 1.89 → 2.29,
    * each slower without the gate in 3 of 3 pairs), the two control
    * keys moved 0.08 s, and an unconditional `repartition` would add
    * an exchange to ~15 keys at sf0.001, where the gate does not fire.
    *
    * Scale behavior: the gate is the ACTUAL footer row-group count
    * (memoized per mtime, early-exit at the parallelism target), so
    * any production layout — files >> cores — never fires it and no
    * query pays an extra exchange. Tiny tables below
    * [[FanOutMinBytes]] (dims that broadcast anyway) are also exempt,
    * because for them the exchange costs more than single-task
    * decode. */
  private val FanOutMinBytes = 512L * 1024

  private def fanOutUnsplittable(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val (bytes, groups) = layout(spark, path, par)
    if (bytes >= FanOutMinBytes && groups < par) df.repartition(par) else df
  }

  /** (total bytes, row groups up to `want`) for the parquet file or
    * directory at `path`; footer reads stop once `want` groups are
    * seen and the result is memoized against the path's mtime. */
  private def layout(spark: SparkSession, path: String, want: Int): (Long, Int) =
    Memo.value(spark, s"tables.layout:$path", Seq(path), want) {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter(s => s.isFile &&
            s.getPath.getName.endsWith(".parquet")).toSeq
        else Seq(st)
      val bytes = files.map(_.getLen).sum
      var groups = 0
      val it = files.iterator
      while (groups < want && it.hasNext) {
        val f = it.next()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try groups += r.getRowGroups.size()
        finally r.close()
      }
      (bytes, groups)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String, fan: Boolean = false): DataFrame =
    load(s, d, "lineitem", fan)

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's reader
    * rejects; with spark.sql.legacy.parquet.nanosAsLong (set in
    * Engine.configure) it arrives as raw nanos. Convert via integer
    * division (ns epoch values exceed 2^53 — double math would lose
    * precision) to a microsecond timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String, fan: Boolean = false): DataFrame =
    load(s, d, "documents", fan)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Name-keyed loader (same normalization as the typed loaders) —
    * for registering temp views / generic tooling. */
  def byName(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)
}
