package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry key's whole contract, defined once in the `registry`
  * of the object that owns its operator.
  *
  *  - `fn` builds the answer from a session and a table directory.
  *  - `oracle` is ANSI SQL that DuckDB runs on the same parquet tables;
  *    the driver hash-compares the two answers.
  *  - `shuffles` is the key's exchange ceiling: the ShuffleExchange
  *    nodes in its FINAL (post-AQE) physical plan, pinned at the
  *    as-built value so a regression that adds a shuffle anywhere fails
  *    RegistrySpec before it costs anything at scale. Nodes, not the
  *    plan string: cached subtrees (InMemoryTableScan) and reused
  *    exchanges (ReusedExchange) are leaves, so only shuffles the key
  *    pays for count. A ceiling, not an equality: AQE may remove one
  *    (SMJ→BHJ), never add one.
  *  - `bnlj` allows a BroadcastNestedLoopJoin, which is the correct
  *    plan in two documented classes, each entry saying which: (a) a
  *    brute-force scorer or API-contract request set, a non-equi join
  *    over a broadcast query/request side while the corpus side
  *    streams; (b) a scalar join, a crossJoin against a broadcast
  *    one-row aggregate (corpus totals, vocab size, clamp constants).
  *    No key may plan a cartesian product.
  *  - `graph` marks a key over the shared graph tables (baskets, pair
  *    counts, oriented edges), which Bench builds before its timed loop.
  */
final case class Entry(fn: (SparkSession, String) => DataFrame, oracle: String,
    shuffles: Int, bnlj: Boolean = false, graph: Boolean = false)

/** An object that owns registry keys. */
trait Registered {
  def registry: Seq[(String, Entry)]
}

/** Driver contract — see SURVEY.md §7.
  *
  * Every key in `queries` has a DuckDB oracle in `oracleSql`; both are
  * views of `registry`, built from the owning objects.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Engine.configure(spark)
    operators.Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")
  }

  /** The objects that own registry keys, one per slice of SURVEY.md §2. */
  val owners: Seq[Registered] = Seq(operators.Analytics, operators.QueryApi,
    operators.Persist, operators.Ingest, operators.Audit, operators.Dedup,
    operators.TextAnalysis, operators.Similarity, sources.Adapters,
    operators.Normalize, operators.EventStream, operators.Multimodal,
    operators.Corpus, operators.Skew, operators.Bucketing, operators.Graph)

  /** The pairs as a map; a key given twice throws instead of the later
    * pair shadowing the earlier. */
  def index(pairs: Seq[(String, Entry)]): Map[String, Entry] = {
    val twice = pairs.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(twice.isEmpty, s"registry keys defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  lazy val registry: Map[String, Entry] = index(owners.flatMap(_.registry))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, e) => k -> e.fn }

  def oracleSql: Map[String, String] = registry.map { case (k, e) => k -> e.oracle }
}
