package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Ckpt, Entry, Memo, Registered, Tables}
import graft.Ckpt.CutOps

/** Bucketed/partitioned-layout helpers: the storage-side half of the
  * scale story.
  *
  * At 100 TB the persist store and the observation stream are written
  * bucketed (and sorted) by the entity key; every downstream
  * entity-keyed operation — the idempotent upsert windows, latest-
  * observation, sessionization, patient-timeline joins — then reads
  * co-located buckets and needs NO shuffle at all (BucketingSpec
  * pins the shuffle-free plan). This is the DynamoDB-partition-key
  * analogue of the reference's single-table design (reference:
  * src/stacks/data-stack.ts PK/GSI layout). Date-partitioned layout
  * (below) is the audit-store analogue (reference: services/audit
  * tenant/date/hour S3 prefixes): time-ranged queries touch only the
  * matching partition directories.
  */
object Bucketing extends Registered {

  /** Write `df` as a bucketed+sorted table on `key`. Joins and
    * aggregations on `key` between tables bucketed with the same
    * bucket count read bucket-to-bucket. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** The query day: mid-range of the synthetic events table so every
    * SF has rows on it. */
  private val PruneDay = "2024-01-15"

  /** N2 `store_partition_prune` — partition-pruned storage, served:
    * events are written `partitionBy(event_date)` (the audit store's
    * date-prefix layout), then a one-day rollup reads back ONLY the
    * matching partition directory — BucketingSpec asserts every input
    * file of the executed scan lives under `event_date=2024-01-15`.
    * At 100 TB this is the difference between scanning one day and
    * scanning three years; the pruning happens at PLANNING time from
    * directory names (no footer reads of other partitions), exactly
    * how the reference's audit-list API prunes by tenant/date prefix
    * (services/audit-list-api). The oracle computes the same rollup
    * from the flat table with a date filter. */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  /** The memoized written layouts live under ONE per-JVM scratch root
    * that a single shutdown hook removes. Every build writes into a
    * fresh directory under it, so no session or concurrent JVM ever
    * `mode(overwrite)`s a directory another one's lazy plans still
    * read. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_layouts_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root.toFile)))
    root
  }

  private def freshCopyDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** A superseded copy (older mtime of the same source) is deleted
    * eagerly — its lazy plans are stale after the rewrite anyway, and
    * keeping it until JVM exit accumulates full table copies. */
  private def dropCopy(p: String): Unit = rmTree(new java.io.File(p))

  private def eventsSrc(dir: String): Seq[String] = Seq(s"$dir/events.parquet")

  /** Path of the memoized event_date-partitioned events store —
    * shared by N2 (static pruning) and N13 (dynamic partition
    * pruning) so both read the SAME on-disk layout. A memo entry, so
    * constructing the query twice does not re-run the write job. */
  private def partitionedEventsPath(spark: SparkSession, dir: String): String =
    Memo[String](spark, s"bucketing.part:$dir", eventsSrc(dir))(dropCopy) {
      val p = freshCopyDir("part_")
      Tables.events(spark, dir)
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("event_date").parquet(p)
      p
    }

  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(partitionedEventsPath(spark, dir))
      .filter(col("event_date") === PruneDay)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Analytics.dsum(col("value")).as("value_sum"))
  }

  def partitionPruneSql: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
       |FROM events
       |WHERE CAST(ts AS DATE) = DATE '$PruneDay'
       |GROUP BY 1""".stripMargin

  /** N13 `store_dpp_join` — DYNAMIC partition pruning served
    * end-to-end: the "hot days" dimension (days whose exact-decimal
    * value sum exceeds a threshold) is only known at runtime, so no
    * static filter can prune the detail scan — instead the broadcast
    * of the day dimension feeds a DynamicPruningExpression into the
    * partitioned store's scan and Spark skips every cold day's
    * partition directory at execution time. This is the mechanism
    * that makes "scan only the partitions the dim selects" work at
    * 100 TB when the selection is itself a query result (the
    * static-literal case is N2); BucketingSpec pins the
    * DynamicPruning filter's presence on the scan so a regression to
    * a full-store read fails loudly. Day totals are exact decimal
    * sums; the serve is the per-(day, type) rollup of the surviving
    * partitions. */
  def dppJoin(spark: SparkSession, dir: String,
              factor: Double = 1.02): DataFrame = {
    val store = spark.read.parquet(partitionedEventsPath(spark, dir))
    // "hot" is RELATIVE (factor x the average daily sum), so the rule
    // is scale-free; day-cardinality after the rollup, materialized
    // once so the scalar pass doesn't re-pay the store scan
    val daily = store
      .groupBy(col("event_date"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("day_sum"))
      .cutLineage()
    // the threshold is a bounded 1-row driver scalar (the sanctioned
    // runtime-filter pattern, cf. the bloom/sketch builders) — and
    // deliberately a LITERAL in the dim filter: Spark's
    // PartitionPruning rule only treats literal comparisons as
    // selective, so an attribute-vs-attribute threshold filter would
    // silently disqualify the scan from dynamic pruning. The IEEE
    // shape factor*(total/nd) matches the oracle's expression exactly.
    val Array(totalD, ndD) = daily
      .agg(sum(col("day_sum")).cast("double"), count(lit(1)).cast("double"))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val hotDays = daily
      .filter(col("day_sum").cast("double") > lit(factor * (totalD / ndD)))
      .select(col("event_date").as("hot_date"))
    store.join(broadcast(hotDays), col("event_date") === col("hot_date"))
      .groupBy(col("event_date").cast("string").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Analytics.dsum(col("value")).as("value_sum"))
  }

  def dppJoinSql(factor: Double = 1.02): String =
    s"""WITH e AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type, value
       |  FROM events
       |), daily AS (
       |  SELECT event_date, SUM(CAST(value AS DECIMAL(18,6))) AS day_sum
       |  FROM e GROUP BY 1
       |), tot AS (
       |  SELECT SUM(day_sum) AS total, COUNT(*) AS nd FROM daily
       |), hot AS (
       |  SELECT event_date FROM daily CROSS JOIN tot
       |  WHERE CAST(CAST(day_sum AS VARCHAR) AS DOUBLE) >
       |    $factor * (CAST(CAST(total AS VARCHAR) AS DOUBLE) / nd)
       |)
       |SELECT event_date, event_type, COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
       |FROM e JOIN hot USING (event_date)
       |GROUP BY 1, 2""".stripMargin

  /** Bits per z-order dimension (8 -> 16-bit z values). */
  private val ZBits = 8

  /** Z-range width per file: low 10 z-bits free within a file, i.e.
    * 5 low bits of each dimension -> every file's rows live in a
    * 32x32 rectangle of (user, minute-bucket) space. */
  private val ZFileShift = 10

  /** Morton interleave of two ZBits-wide dims: u takes the even bit
    * positions, m the odd ones. Emitted as 2*ZBits shift-and-mask
    * terms so the identical arithmetic runs in Spark codegen and in
    * the DuckDB oracle. */
  private def zTermsSql(u: String, m: String): String =
    (0 until ZBits).map(i =>
      s"((($u >> $i) & 1) << ${2 * i}) + ((($m >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** N3 `store_zorder_layout` — multi-dimensional clustering via a
    * Z-order (Morton) curve, the layout behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`: sorting by interleaved bits of
    * (user_id, minute-of-day) places rows so that ANY contiguous
    * z-range — hence any file — covers a small RECTANGLE in both
    * dimensions at once, which is what lets min/max file statistics
    * prune scans on either column (a plain lexicographic sort prunes
    * only its leading column). Here file assignment is the
    * deterministic z >> 10 (so the oracle can replay it); the served
    * result is the per-file clustering manifest — row count and
    * min/max of BOTH dims — i.e. exactly the file-skipping index a
    * query planner would consult. Every file's spans are provably
    * <= 31 in each dim (low 5 z-bits per dim free within a file);
    * BucketingSpec asserts that law.
    *
    * Scale: the z-value is a pure scan-side expression; the real
    * write is repartitionByRange(z) + sortWithinPartitions(z) (one
    * range shuffle); the manifest rollup here is one groupBy on
    * file_id. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val withZ = Tables.events(spark, dir)
      .withColumn("zu", pmod(col("user_id"), lit(256L)))
      .withColumn("zm",
        floor((hour(col("ts")) * 60 + minute(col("ts"))) / lit(6)).cast("long"))
      .withColumn("zval", expr(zTermsSql("zu", "zm")))
    withZ
      .groupBy(shiftright(col("zval"), ZFileShift).as("file_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("zu")).as("u_min"), max(col("zu")).as("u_max"),
        min(col("zm")).as("m_min"), max(col("zm")).as("m_max"))
  }

  def zorderLayoutSql: String = {
    val z = zTermsSql("zu", "zm")
    s"""WITH dims AS (
       |  SELECT user_id % 256 AS zu,
       |    (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) // 6 AS zm
       |  FROM events
       |), zed AS (
       |  SELECT zu, zm, ($z) AS zval FROM dims
       |)
       |SELECT CAST(zval >> $ZFileShift AS BIGINT) AS file_id,
       |  COUNT(*) AS n_events,
       |  CAST(MIN(zu) AS BIGINT) AS u_min, CAST(MAX(zu) AS BIGINT) AS u_max,
       |  CAST(MIN(zm) AS BIGINT) AS m_min, CAST(MAX(zm) AS BIGINT) AS m_max
       |FROM zed GROUP BY 1""".stripMargin
  }

  /** The N3b predicate box: a band in each z dimension. */
  private val SkipULo = 4L; private val SkipUHi = 9L
  private val SkipMLo = 60L; private val SkipMHi = 90L

  /** N3b `store_skipping_read` — the manifest CONSULT that makes N3's
    * layout pay off: a two-dimensional predicate box
    * (user ∈ [4,9], minute-bucket ∈ [60,90] — non-empty at every SF) first prunes the
    * z-order manifest to the files whose min/max RECTANGLE intersects
    * the box, and only rows of surviving files are read (modeled as a
    * broadcast semi-join on file_id — on a real table the planner
    * simply never opens the skipped files), with the original
    * predicate kept as the residual filter for the false-positive
    * corners of partially-overlapping rectangles. Because every
    * z-file spans ≤ 31 cells in EACH dim (N3's rectangle law), a
    * box predicate on EITHER dimension prunes — the property a
    * lexicographic sort only gives its leading column. The ORACLE is
    * the plain full-scan filter: hash equality proves the manifest
    * never skips a file it needed (pruning soundness); BucketingSpec
    * additionally asserts the consult really skips files
    * (effectiveness). */
  def skippingRead(spark: SparkSession, dir: String): DataFrame = {
    val files = skippingFiles(spark, dir).select(col("file_id"))
    Tables.events(spark, dir)
      .withColumn("zu", pmod(col("user_id"), lit(256L)))
      .withColumn("zm",
        floor((hour(col("ts")) * 60 + minute(col("ts"))) / lit(6)).cast("long"))
      .withColumn("zval", expr(zTermsSql("zu", "zm")))
      .withColumn("file_id", shiftright(col("zval"), ZFileShift))
      .join(broadcast(files), Seq("file_id"))
      .filter(col("zu").between(SkipULo, SkipUHi) &&
        col("zm").between(SkipMLo, SkipMHi))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("zu"), col("zm"))
  }

  /** Exposed for BucketingSpec's effectiveness assertion. */
  private[graft] def skippingFiles(spark: SparkSession, dir: String): DataFrame =
    zorderLayout(spark, dir)
      .filter(col("u_max") >= SkipULo && col("u_min") <= SkipUHi &&
        col("m_max") >= SkipMLo && col("m_min") <= SkipMHi)

  def skippingReadSql: String =
    s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |  user_id % 256 AS zu,
       |  (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) // 6 AS zm
       |FROM events
       |WHERE user_id % 256 BETWEEN $SkipULo AND $SkipUHi
       |  AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) // 6
       |      BETWEEN $SkipMLo AND $SkipMHi""".stripMargin

  /** Target rows per compacted file (size proxy: the inventory's row
    * counts; a real table would carry byte sizes). */
  private val CompactTarget = 500L

  /** N4 `store_compaction_plan` — the small-file compaction planner
    * behind `OPTIMIZE` / auto-compaction: the audit store's
    * tenant/date/hour layout (F1) fragments into thousands of tiny
    * files, and the fix is a planned rewrite that packs them into
    * target-sized files. Files are ordered largest-first (so big
    * files don't straddle bins) with a deterministic key tiebreak,
    * then packed greedily by running size: bin = (cumsum - size) div
    * target — the sequential next-fit pack compaction services
    * actually run. Output is the work list: per output bin, how many
    * input files and rows it merges.
    *
    * Scale: the plan runs over the file MANIFEST (O(partitions), not
    * O(rows) — the same economics as F10's retention sweep), so the
    * global ordered prefix sum is a window over metadata; the data
    * itself moves once, during the rewrite the plan drives. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val inv = Tables.events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Obs.onePart(col("tenant_id"))) // manifest rows, metadata-only
      .orderBy(col("n_events").desc, col("tenant_id"), col("audit_date"),
        col("audit_hour"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    inv.withColumn("csum", sum(col("n_events")).over(w))
      .groupBy(floor((col("csum") - col("n_events")) / lit(CompactTarget))
        .as("bin_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_events")).as("total_rows"))
  }

  def compactionPlanSql: String =
    s"""WITH inv AS (
       |  SELECT 't' || (user_id % 4) AS tenant_id,
       |    strftime(ts, '%Y-%m-%d') AS audit_date,
       |    CAST(hour(ts) AS INT) AS audit_hour,
       |    COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2, 3
       |), ordered AS (
       |  SELECT n_events,
       |    CAST(SUM(n_events) OVER (
       |      ORDER BY n_events DESC, tenant_id, audit_date, audit_hour
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum
       |  FROM inv
       |)
       |SELECT CAST((csum - n_events) // $CompactTarget AS BIGINT) AS bin_id,
       |  COUNT(*) AS n_files,
       |  CAST(SUM(n_events) AS BIGINT) AS total_rows
       |FROM ordered GROUP BY 1""".stripMargin

  /** The profiled lineitem columns: (name, numeric-projection SQL/Col
    * or None for non-numeric — strings keep ndv/null stats only;
    * l_shipdate ranges as epoch micros, exact in a double). */
  private val StatCols: Seq[(String, Option[String])] = Seq(
    "l_orderkey" -> Some("l_orderkey"), "l_partkey" -> Some("l_partkey"),
    "l_suppkey" -> Some("l_suppkey"), "l_linenumber" -> Some("l_linenumber"),
    "l_quantity" -> Some("l_quantity"),
    "l_extendedprice" -> Some("l_extendedprice"),
    "l_discount" -> Some("l_discount"), "l_tax" -> Some("l_tax"),
    "l_returnflag" -> None, "l_linestatus" -> None,
    "l_shipdate" -> Some("EPOCH")) // sentinel: epoch-micros projection

  /** N14 `store_stats_incremental` — PER-PARTITION mergeable column
    * stats (the incremental companion the r9 verdict asked for: N7
    * rescans the table; this is ANALYZE as a maintained store). The
    * STORE holds one row per (shipdate-month, column): exact
    * min/max/null/row counters plus a DataSketches HLL sketch of the
    * column's values — F15's sketch-store discipline applied to table
    * stats. The READ merges at query time: min-of-mins, max-of-maxes,
    * counter sums, and hll_union_agg over the partition sketches,
    * with N7's two-tier NDV discipline (exact distinct is the
    * hash-compared answer; the merged-sketch estimate is served as an
    * in-band boolean the oracle pins TRUE, band ±15%+1).
    *
    * Why it scales: after a P4-style delta admission only the NEW
    * months' rows are profiled (the spec pins the pushed
    * l_shipdate ≥ cutoff scan filter) and appended to the store —
    * re-profiling is O(|delta partitions|), never a table rescan —
    * and merge ≡ full-scan is exact for every counter by algebra
    * (min/max/sum are associative-commutative; spec-pinned by hash).
    * The HLL union is the sketch's native merge but its ESTIMATE is
    * not bit-stable across partition splits (DataSketches union
    * order/mode effects) — which is exactly why the serve exposes
    * only the in-band boolean, never the raw estimate; the spec pins
    * the incremental path's estimate to the same band contract.
    * Store build is ONE pass (single grouped
    * aggregate over all profiled columns, checkpointed at partition
    * cardinality); the served read runs over |months|×|columns| rows
    * — metadata-scale. */
  private val IncStatCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "l_orderkey",
    "l_quantity" -> "l_quantity",
    "l_extendedprice" -> "l_extendedprice",
    "l_shipdate" -> "EPOCH")

  private def incNum(name: String, proj: String): org.apache.spark.sql.Column =
    if (proj == "EPOCH") unix_micros(col(name)).cast("double")
    else col(proj).cast("double")

  /** One-pass per-partition stats build over any lineitem-shaped
    * slice — the seam the delta admission (and its spec) reuses. */
  private[graft] def statsStoreFrom(li: DataFrame,
      partFmt: String = "yyyy-MM"): DataFrame =
    statsStoreFromWide(li, partFmt)._1

  /** As statsStoreFrom, but also hands back the inner checkpointed
    * wide frame so a caller that re-checkpoints the union (statsStore)
    * can release the wide blocks instead of pinning them for the
    * session once its own checkpoint has materialized. */
  private def statsStoreFromWide(li: DataFrame,
      partFmt: String): (DataFrame, DataFrame) = {
    val aggs = IncStatCols.flatMap { case (name, proj) =>
      val n = incNum(name, proj)
      Seq(min(n).as(s"min_$name"), max(n).as(s"max_$name"),
        (count(lit(1)) - count(col(name))).as(s"nulls_$name"),
        // hll_sketch_agg takes int/long/string/binary: feed the
        // canonical string rendering of the numeric projection
        // (injective, so sketch NDV == value NDV within band)
        hll_sketch_agg(n.cast("string")).as(s"hll_$name"))
    } :+ count(lit(1)).as("n_rows")
    val wide = li
      .groupBy(date_format(col("l_shipdate"), partFmt).as("part_key"))
      .agg(aggs.head, aggs.tail: _*)
      .cutLineage() // partition cardinality; one scan feeds all columns
    (IncStatCols.map { case (name, _) =>
      wide.select(col("part_key"), lit(name).as("column_name"),
        col(s"min_$name").as("min_v"), col(s"max_$name").as("max_v"),
        col(s"nulls_$name").as("n_nulls"), col("n_rows"),
        col(s"hll_$name").as("hll"))
    }.reduce(_.unionAll(_)), wide)
  }

  /** The persisted stats store, memoized per (dir, granularity). */
  private[graft] def statsStore(spark: SparkSession, dir: String,
      partFmt: String = "yyyy-MM"): DataFrame =
    Memo.checkpointed(spark, s"bucketing.stats:$dir:$partFmt",
        Seq(s"$dir/lineitem.parquet")) {
      val (union, wide) =
        statsStoreFromWide(Tables.lineitem(spark, dir), partFmt)
      // the outer checkpoint materializes the union: the inner wide
      // blocks would otherwise stay pinned for the session
      Ckpt.cut(union, wide)
    }

  /** The merged read over any store frame (base, delta, or union). */
  private[graft] def statsMergedRead(store: DataFrame): DataFrame =
    store.groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        sum(col("n_nulls")).as("n_nulls"), sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("hll"))).as("ndv_est"))

  def statsIncremental(spark: SparkSession, dir: String,
      partFmt: String = "yyyy-MM"): DataFrame = {
    val merged = statsMergedRead(statsStore(spark, dir, partFmt))
    // exact NDV attach — the band pin (N7's two-tier discipline); a
    // production read serves ndv_est alone and skips this scan
    val li = Tables.lineitem(spark, dir)
    val exact = li
      .agg(countDistinct(incNum(IncStatCols.head._1, IncStatCols.head._2))
          .as(s"ndv_${IncStatCols.head._1}"),
        IncStatCols.tail.map { case (name, proj) =>
          countDistinct(incNum(name, proj)).as(s"ndv_$name") }: _*)
      .selectExpr(s"stack(${IncStatCols.size}, " +
        IncStatCols.map { case (name, _) => s"'$name', ndv_$name" }
          .mkString(", ") + ") AS (column_name, ndv)")
    merged.join(broadcast(exact), Seq("column_name"))
      .select(col("column_name"), col("n_parts"), col("min_v"), col("max_v"),
        col("n_nulls"), col("n_rows"), col("ndv"),
        (abs(col("ndv_est") - col("ndv")) <= col("ndv") * 0.15 + 1)
          .as("ndv_sketch_in_band"))
      .orderBy(col("column_name"))
  }

  def statsIncrementalSql(partFmt: String = "yyyy-MM"): String = {
    val duckFmt = if (partFmt == "yyyy") "%Y" else "%Y-%m"
    IncStatCols.map { case (name, proj) =>
      val num = if (proj == "EPOCH") s"CAST(epoch_us($name) AS DOUBLE)"
        else s"CAST($proj AS DOUBLE)"
      // n_parts: COUNT(DISTINCT) ignores NULLs but the Spark store
      // materializes a NULL part_key group row — count it explicitly
      // so the oracle stays correct if a layout ever has NULL l_shipdate
      s"""SELECT '$name' AS column_name,
         |  COUNT(DISTINCT strftime(l_shipdate, '$duckFmt'))
         |    + MAX(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS n_parts,
         |  MIN($num) AS min_v, MAX($num) AS max_v,
         |  COUNT(*) - COUNT($name) AS n_nulls,
         |  COUNT(*) AS n_rows,
         |  COUNT(DISTINCT $num) AS ndv,
         |  TRUE AS ndv_sketch_in_band
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
  }

  /** N7 `store_column_stats` — the table-stats collection pass behind
    * ANALYZE TABLE / CBO and the N3 skipping manifest: per column,
    * value range (numeric columns; timestamps as epoch micros — exact
    * in a double), null count, and NDV. Two-tier NDV discipline (the
    * F8/F9/F11 pattern): the hash-compared answer is the EXACT
    * distinct count, and the HLL++ sketch estimate — the one-pass
    * mergeable form a 100 TB ANALYZE actually runs — is served as an
    * in-band boolean the oracle pins TRUE (HLL rsd 5%, band ±15% =
    * 3σ).
    * Scale: one single-column aggregate branch per profiled column —
    * each branch's parquet scan reads ONLY its column (pruned
    * ReadSchema), partial-aggregates map-side, and exchanges one row
    * per partition; branches run as independent stages. That beats
    * the one-scan Expand plan (which multiplies every row by the
    * column count through a single shuffle) and is how per-column
    * stats jobs stay selective when only stale columns need
    * re-profiling. */
  def columnStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    StatCols.map { case (name, proj) =>
      val c = col(name)
      val num = proj.map {
        case "EPOCH" => unix_micros(c).cast("double")
        case p => col(p).cast("double")
      }
      li.agg(
        num.map(min).getOrElse(lit(null).cast("double")).as("min_v"),
        num.map(max).getOrElse(lit(null).cast("double")).as("max_v"),
        (count(lit(1)) - count(c)).as("n_nulls"),
        countDistinct(c).as("ndv"),
        approx_count_distinct(c).as("ndv_est"))
        .select(lit(name).as("column_name"), col("min_v"), col("max_v"),
          col("n_nulls"), col("ndv"),
          (abs(col("ndv_est") - col("ndv")) <= col("ndv") * 0.15 + 1)
            .as("ndv_sketch_in_band"))
    }.reduce(_.unionAll(_))
  }

  def columnStatsSql: String =
    StatCols.map { case (name, proj) =>
      val (minE, maxE) = proj match {
        case Some("EPOCH") =>
          (s"CAST(epoch_us(MIN($name)) AS DOUBLE)",
            s"CAST(epoch_us(MAX($name)) AS DOUBLE)")
        case Some(p) =>
          (s"CAST(MIN($p) AS DOUBLE)", s"CAST(MAX($p) AS DOUBLE)")
        case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      s"""SELECT '$name' AS column_name, $minE AS min_v, $maxE AS max_v,
         |  COUNT(*) - COUNT($name) AS n_nulls,
         |  COUNT(DISTINCT $name) AS ndv,
         |  TRUE AS ndv_sketch_in_band
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The schema-evolution cutoff: batches before it were written by
    * the v1 pipeline (no `service` column), batches after by v2. */
  private val EvoCutoff = "2024-01-15"

  /** N10 `store_schema_evolution` — an evolved-table read: the store
    * holds a v1 batch written BEFORE a column existed (events up to
    * the cutoff, no `service`) and a v2 batch written after the
    * pipeline started deriving the service dimension; the read
    * unifies them (`mergeSchema=true`, the Delta/Iceberg
    * schema-evolution semantic) and v1 rows surface the new column
    * as NULL — served as a per-(event_type, service) rollup where
    * the NULL bucket IS the pre-migration history. The oracle
    * recomputes from the raw table with the same cutoff CASE, so
    * hash equality proves the merged read loses/invents nothing.
    * Scale: schema merge is a FOOTER operation (file metadata union,
    * not data); the rollup is one partial-agg'd shuffle. Both
    * batches land under one memoized per-(session, dataset-mtime)
    * path, partitionPrune's lifecycle discipline. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = Memo[String](spark, s"bucketing.evo:$dir", eventsSrc(dir))(
        dropCopy) {
      val p = freshCopyDir("evo_")
      val ev = Tables.events(spark, dir)
      val cut = lit(EvoCutoff).cast("timestamp")
      ev.filter(col("ts") < cut)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$p/batch=v1")
      ev.filter(col("ts") >= cut)
        .select(col("event_id"), col("event_type"), col("value"),
          Audit.serviceCol.as("service"))
        .write.mode("overwrite").parquet(s"$p/batch=v2")
      p
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/batch=v1", s"$path/batch=v2")
      .groupBy(col("event_type"), col("service"))
      .agg(count(lit(1)).as("n_events"),
        Analytics.dsum(col("value")).as("value_sum"))
      .orderBy(col("event_type"), col("service"))
  }

  def schemaEvolutionSql: String =
    s"""SELECT event_type,
       |  CASE WHEN ts >= TIMESTAMP '$EvoCutoff 00:00:00' THEN
       |    CASE WHEN event_type IN ('signup', 'click', 'view') THEN 'ingest'
       |         WHEN event_type = 'purchase' THEN 'persist'
       |         ELSE 'dlq' END
       |  END AS service,
       |  COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
       |FROM events GROUP BY 1, 2
       |ORDER BY event_type, service""".stripMargin

  /** N11 `store_skew_report` — partition-skew diagnosis for a
    * prospective shuffle key: per key, row count plus the
    * whole-table skew statistics (max/total/key count), and an
    * integer-exact hot-key verdict — `is_hot` iff this key holds
    * more than `hotFactor`× the mean rows per key, decided by the
    * cross-multiply c·k > hotFactor·total (F14 discipline, no float
    * mean). This is the report an engineer runs BEFORE choosing
    * bucketing/salting (N1/N5 are the mitigations; this is the
    * detector). One partial-agg'd rollup to key cardinality; the
    * table-wide stats ride the onePart window (metadata-scale —
    * the KEY table, not the rows). Served deterministically: hot
    * keys first, then by count and key.
    *
    * Fixture: the key is a 32-way routing shard where un-migrated
    * traffic (3 of every 4 users) still lands on the legacy shard 0
    * — the real-world "default partition" hot spot (SkewSpec's
    * synthetic-skew discipline; the natural keys of this dataset
    * are deliberately uniform). */
  def skewReport(spark: SparkSession, dir: String,
                 hotFactor: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = concat(lit("s"),
      when(pmod(col("user_id"), lit(4)) =!= 0, lit(0L))
        .otherwise(pmod(expr("user_id div 4"), lit(32))))
    val counts = Tables.events(spark, dir)
      .groupBy(shard.as("key"))
      .agg(count(lit(1)).as("c"))
      // materialized shared key (N9's lesson): three inline onePart
      // windows would each project their own _w0 and exchange thrice
      .withColumn("pk", Obs.onePart(col("key")))
    val w = Window.partitionBy(col("pk"))
    counts
      .withColumn("total_rows", sum(col("c")).over(w))
      .withColumn("n_keys", count(lit(1)).over(w))
      .withColumn("max_key_rows", max(col("c")).over(w))
      .withColumn("is_hot",
        col("c") * col("n_keys") > lit(hotFactor) * col("total_rows"))
      .select(col("key"), col("c").as("n_rows"), col("total_rows"),
        col("n_keys"), col("max_key_rows"), col("is_hot"))
      .orderBy(col("is_hot").desc, col("n_rows").desc, col("key"))
  }

  def skewReportSql(hotFactor: Int = 3): String =
    s"""WITH counts AS (
       |  SELECT 's' || (CASE WHEN user_id % 4 <> 0 THEN 0
       |                      ELSE (user_id // 4) % 32 END) AS key,
       |    COUNT(*) AS c
       |  FROM events GROUP BY 1),
       |stats AS (
       |  SELECT *,
       |    CAST(SUM(c) OVER () AS BIGINT) AS total_rows,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n_keys,
       |    CAST(MAX(c) OVER () AS BIGINT) AS max_key_rows
       |  FROM counts)
       |SELECT key, c AS n_rows, total_rows, n_keys, max_key_rows,
       |  c * n_keys > $hotFactor * total_rows AS is_hot
       |FROM stats
       |ORDER BY is_hot DESC, n_rows DESC, key""".stripMargin

  /** N9 `store_equidepth_hist` — equi-depth (equi-height) histogram
    * over `l_extendedprice`, the CBO statistic behind selectivity
    * estimation (Spark's own ANALYZE … COMPUTE STATISTICS FOR
    * COLUMNS builds exactly this shape) and the complement of N7's
    * min/max/NDV pass. Build is the standard two-level compression:
    * (1) values collapse to bounded integer DOLLAR bins
    * (floor(price) — domain-bounded metadata, ~100k bins max no
    * matter how many rows), one linear partial-agg pass; (2) an
    * ordered prefix sum over the BIN table (metadata-scale, windowed
    * over [[Obs.onePart]]'s non-foldable constant key) assigns each
    * bin the bucket of its first row: bucket = ((cum − cnt) · k) div
    * total — all-integer, so bucket boundaries cannot float-drift
    * between engines. Served per bucket: row count, bin count, and
    * the [lo, hi] dollar bounds — rows-per-bucket is equal up to
    * bin granularity (heavy bins are never split, the textbook
    * compressed-histogram property; the spec asserts the ±max-bin
    * balance bound). The oracle replays the same two levels with a
    * plain window cumsum. */
  def equidepthHist(spark: SparkSession, dir: String,
                    buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = Tables.lineitem(spark, dir)
      .groupBy(floor(col("l_extendedprice")).cast("long").as("dollar"))
      .agg(count(lit(1)).as("cnt"))
    // materialize the constant partition key ONCE: two inline
    // onePart(...) calls become two distinct _w0 projections and the
    // planner exchanges between the windows; one shared attribute
    // lets both windows (cumsum + grand total) stack on one exchange
    bins.withColumn("pk", Obs.onePart(col("dollar")))
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy(col("pk")).orderBy(col("dollar"))))
      .withColumn("total", sum(col("cnt"))
        .over(Window.partitionBy(col("pk"))))
      .withColumn("bucket",
        expr(s"((cum - cnt) * $buckets) div total"))
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_bins"),
        min(col("dollar")).as("lo_dollar"), max(col("dollar")).as("hi_dollar"))
      .orderBy(col("bucket"))
  }

  def equidepthHistSql(buckets: Int = 16): String =
    s"""WITH bins AS (
       |  SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS dollar,
       |         COUNT(*) AS cnt
       |  FROM lineitem GROUP BY 1),
       |cums AS (
       |  SELECT dollar, cnt,
       |    SUM(cnt) OVER (ORDER BY dollar) AS cum,
       |    SUM(cnt) OVER () AS total
       |  FROM bins)
       |SELECT CAST(((cum - cnt) * $buckets) // total AS BIGINT) AS bucket,
       |  CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_bins,
       |  MIN(dollar) AS lo_dollar, MAX(dollar) AS hi_dollar
       |FROM cums GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- N15
  private val BloomFileRows = 1250L // events per ingest-order "file"
  private val BloomTraceSpan = 20L // events per trace (the lookup key)
  private val BloomK = 3 // hash functions
  private val BloomProbes = 50 // present point-lookup keys
  private val BloomAbsent = 25 // planted absent keys

  /** N15 `store_bloom_prune` — file-level BLOOM-FILTER pruning for
    * point lookups on a HASH-VALUED column, served as an
    * effectiveness eval against the zone maps that fail there
    * (reference-shape: Parquet column bloom filters / Delta bloom
    * index / ClickHouse bloom skip index): the events table is cut
    * into ingest-order files; the lookup key is a trace_id (md5 of
    * the 20-event ingest burst — clustered in arrival order like real
    * trace/request ids, but hex-valued, so every file's min/max spans
    * the whole key space and zone maps prune NOTHING: exactly the
    * unclustered-point-lookup hole blooms exist for). Each file's
    * bloom is represented RELATIONALLY as its (file_id, set-bit
    * position) table with k=3 md5-derived hashes mod `bits` —
    * bit-for-bit the bloom semantics (position collisions = false
    * positives) while staying exactly comparable cross-engine. The
    * probe workload is 50 hash-ordered present trace_ids plus 25
    * planted ABSENT ids (md5 of negative ints — lexically in-range,
    * so zone maps pass them too). Served per probe: files passing
    * zone maps (all of them — the documented failure), files passing
    * the bloom (never below the true count — the no-false-negative
    * law the spec pins), true files (1–2: traces are ingest-
    * clustered), and the false-positive count the `bits` knob
    * controls (`param_` runs bits=512 to make the FP/size tradeoff
    * visible in the same shape).
    *
    * Scale: the set-bit relation is bounded by files × bits (the
    * bloom INDEX, metadata-scale — at 100 TB this table IS what a
    * scheduler consults before assigning file reads, k O(1) lookups
    * per probe); membership is one pos-keyed equi join + a (probe,
    * file) rollup; the probe × file grid is a bounded broadcast
    * attach. Every count is an exact integer — no sketch bands
    * needed, unlike F9/F15, because the bloom is exact set
    * arithmetic over planted hashes. */
  def bloomPrune(spark: SparkSession, dir: String, bits: Long = 4096L,
                 fileRows: Long = BloomFileRows): DataFrame = {
    def pos(c: org.apache.spark.sql.Column, i: Int) =
      pmod(conv(substring(md5(concat(c, lit(s":$i")).cast("binary")),
        1, 15), 16, 10).cast("long"), lit(bits))
    val ev = Tables.events(spark, dir)
      .select(expr(s"event_id div $fileRows").as("file_id"),
        md5(expr(s"event_id div $BloomTraceSpan").cast("string")
          .cast("binary")).as("trace_id"))
    val files = ev.groupBy(col("file_id"))
      .agg(min(col("trace_id")).as("t_min"), max(col("trace_id")).as("t_max"))
    val bitRel = ev.select(col("file_id"),
        explode(array((1 to BloomK).map(i => pos(col("trace_id"), i)): _*))
          .as("pos"))
      .distinct()
    val present = ev.select(col("trace_id")).distinct()
      .orderBy(col("trace_id"))
      .limit(BloomProbes)
      .select(col("trace_id"), lit(true).as("present"))
    val absent = spark.range(1, BloomAbsent + 1L)
      .select(md5((-col("id")).cast("string").cast("binary"))
        .as("trace_id"), lit(false).as("present"))
    val probes = present.unionAll(absent)
    val ppos = probes.select(col("trace_id"),
        explode(array((1 to BloomK).map(i => pos(col("trace_id"), i)): _*))
          .as("pos"))
      .distinct()
    val need = ppos.groupBy(col("trace_id")).agg(count(lit(1)).as("dq"))
    val bm = ppos.join(bitRel, Seq("pos"))
      .groupBy(col("trace_id"), col("file_id"))
      .agg(count(lit(1)).as("matched"))
    val tru = probes.join(ev, Seq("trace_id"))
      .select(col("trace_id"), col("file_id")).distinct()
      .withColumn("t", lit(1L))
    probes.crossJoin(broadcast(files))
      .join(bm, Seq("trace_id", "file_id"), "left_outer")
      .join(need, Seq("trace_id"))
      .join(tru, Seq("trace_id", "file_id"), "left_outer")
      .select(col("trace_id"), col("present"),
        (col("trace_id") >= col("t_min") && col("trace_id") <= col("t_max"))
          .cast("long").as("zp"),
        (coalesce(col("matched"), lit(0L)) === col("dq"))
          .cast("long").as("bp"),
        coalesce(col("t"), lit(0L)).as("th"))
      .groupBy(col("trace_id"), col("present"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("zp")).as("n_zone_pass"),
        sum(col("bp")).as("n_bloom_pass"),
        sum(col("th")).as("n_true_files"))
      .withColumn("n_false_pos",
        col("n_bloom_pass") - col("n_true_files"))
      .orderBy(col("trace_id"))
  }

  def bloomPruneSql(bits: Long = 4096L): String = {
    def posSql(src: String, i: Int): String =
      s"CAST(('0x' || substring(md5($src.trace_id || ':$i'), 1, 15)) " +
        s"AS BIGINT) % $bits"
    val evPos = (1 to BloomK).map(i =>
      s"SELECT file_id, ${posSql("ev", i)} AS pos FROM ev ev")
      .mkString("\n    UNION ALL\n    ")
    val prPos = (1 to BloomK).map(i =>
      s"SELECT trace_id, ${posSql("p", i)} AS pos FROM probes p")
      .mkString("\n    UNION ALL\n    ")
    s"""WITH ev AS (
       |  SELECT event_id // $BloomFileRows AS file_id,
       |    md5(CAST(event_id // $BloomTraceSpan AS VARCHAR)) AS trace_id
       |  FROM events),
       |files AS (
       |  SELECT file_id, MIN(trace_id) AS t_min, MAX(trace_id) AS t_max
       |  FROM ev GROUP BY 1),
       |bits AS (
       |  SELECT DISTINCT file_id, pos FROM (
       |    $evPos)),
       |present AS (
       |  SELECT trace_id, TRUE AS present FROM (
       |    SELECT DISTINCT trace_id FROM ev
       |    ORDER BY trace_id LIMIT $BloomProbes)),
       |absent AS (
       |  SELECT md5(CAST(-i AS VARCHAR)) AS trace_id, FALSE AS present
       |  FROM range(1, ${BloomAbsent + 1}) t(i)),
       |probes AS (SELECT * FROM present UNION ALL SELECT * FROM absent),
       |ppos AS (
       |  SELECT DISTINCT trace_id, pos FROM (
       |    $prPos)),
       |need AS (SELECT trace_id, COUNT(*) AS dq FROM ppos GROUP BY 1),
       |bm AS (
       |  SELECT pp.trace_id, b.file_id, COUNT(*) AS matched
       |  FROM ppos pp JOIN bits b ON b.pos = pp.pos GROUP BY 1, 2),
       |tru AS (
       |  SELECT DISTINCT p.trace_id, e.file_id
       |  FROM probes p JOIN ev e USING (trace_id))
       |SELECT g.trace_id, g.present, COUNT(*) AS n_files,
       |  CAST(SUM(CASE WHEN g.trace_id BETWEEN g.t_min AND g.t_max
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zone_pass,
       |  CAST(SUM(CASE WHEN COALESCE(bm.matched, 0) = n.dq
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       |  CAST(SUM(CASE WHEN t.trace_id IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_true_files,
       |  CAST(SUM(CASE WHEN COALESCE(bm.matched, 0) = n.dq
       |    THEN 1 ELSE 0 END)
       |    - SUM(CASE WHEN t.trace_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_pos
       |FROM (SELECT p.trace_id, p.present, f.file_id, f.t_min, f.t_max
       |      FROM probes p, files f) g
       |JOIN need n ON n.trace_id = g.trace_id
       |LEFT JOIN bm ON bm.trace_id = g.trace_id AND bm.file_id = g.file_id
       |LEFT JOIN tru t ON t.trace_id = g.trace_id AND t.file_id = g.file_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val registry: Seq[(String, Entry)] = Seq(
    // eval over 6 derived relations (files/bits/probes/ppos/bm/tru):
    // only 3 exchanges carry event-scale data (file rollup, set-bit
    // distinct, true-hit distinct); the rest are probe-scale
    "store_bloom_prune" -> Entry((s, d) => bloomPrune(s, d), bloomPruneSql(), shuffles = 10,
      bnlj = true), // (b) bounded probe x file-manifest broadcast grid (75 x files)
    "param_bloom_prune" -> Entry((s, d) => bloomPrune(s, d, bits = 512L),
      bloomPruneSql(bits = 512L), shuffles = 10,
      bnlj = true), // (b) bounded probe x file-manifest broadcast grid (75 x files)
    "store_schema_evolution" -> Entry(schemaEvolution _, schemaEvolutionSql, shuffles = 2),
    "store_skew_report" -> Entry((s, d) => skewReport(s, d), skewReportSql(),
      shuffles = 3), // key rollup + stacked onePart stat windows + ordered serve
    "param_skew_report" -> Entry((s, d) => skewReport(s, d, hotFactor = 10),
      skewReportSql(hotFactor = 10), shuffles = 3),
    "store_equidepth_hist" -> Entry((s, d) => equidepthHist(s, d), equidepthHistSql(),
      shuffles = 4), // bin agg + stacked cumsum/total windows + bucket agg + ordered serve
    "param_equidepth_hist" -> Entry((s, d) => equidepthHist(s, d, buckets = 4),
      equidepthHistSql(buckets = 4), shuffles = 4),
    "store_column_stats" -> Entry(columnStats _, columnStatsSql,
      shuffles = 22), // 2 per profiled column (exact-NDV partial+final); branches exchange 1-row partials only
    "store_stats_incremental" -> Entry((s, d) => statsIncremental(s, d), statsIncrementalSql(),
      shuffles = 4), // store-merge agg + exact-NDV expand (partial/final over 4-col distinct) + attach; store itself is a checkpoint leaf
    "param_stats_incremental" -> Entry((s, d) => statsIncremental(s, d, partFmt = "yyyy"),
      statsIncrementalSql(partFmt = "yyyy"), shuffles = 4),
    "store_partition_prune" -> Entry(partitionPrune _, partitionPruneSql, shuffles = 1),
    "store_dpp_join" -> Entry((s, d) => dppJoin(s, d), dppJoinSql(), shuffles = 2),
    "param_dpp_join" -> Entry((s, d) => dppJoin(s, d, factor = 1.1), dppJoinSql(factor = 1.1),
      shuffles = 2),
    "store_zorder_layout" -> Entry(zorderLayout _, zorderLayoutSql, shuffles = 2),
    "store_skipping_read" -> Entry(skippingRead _, skippingReadSql,
      shuffles = 1), // manifest rollup; file consult broadcasts
    "store_compaction_plan" -> Entry(compactionPlan _, compactionPlanSql,
      shuffles = 3)) // manifest agg + metadata-only global cumsum + bin agg
}
