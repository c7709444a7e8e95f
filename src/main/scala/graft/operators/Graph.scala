package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Entry, Memo, Registered, Tables}
import graft.Ckpt.CutOps

/** Graph analytics over the co-purchase graph (SURVEY §2 O-family).
  *
  * The reference's analytics surface stops at relational shapes; a
  * training-data/analytics engine at 100 TB also needs the classic
  * iterative graph primitives — rank propagation (recommendation
  * seeds), triangle counting (community density), and multi-hop
  * reachability (related-item expansion). Nodes are parts; edges
  * connect parts bought together in at least `minSupport` orders
  * (K30's map-side pair expansion builds them in two shuffles).
  *
  * Every operator here is fixed-point/integer arithmetic end-to-end:
  * ranks are BIGINT fixed-point (SCALE = 1e9) with floor division,
  * so five PageRank iterations produce bit-identical BIGINTs in any
  * engine — the DuckDB oracle replays the same recurrence as five
  * unrolled CTEs (aggregates are not allowed in a recursive CTE term,
  * and fixed-depth unrolling is exactly what the driver can verify).
  *
  * Scale design: the directed edge list is cached once per dir,
  * hash-partitioned by src, and PageRank caches it for one build with
  * degrees attached (the adjacency), so each Pregel-style iteration
  * is ONE rank-by-src equi join + ONE groupBy(dst) partial agg — the
  * textbook Spark PageRank layout, reusing the adjacency's
  * partitioning across all iterations; every fixed-round loop runs
  * through [[Ckpt.rounds]]. Triangle counting uses
  * degree-based edge orientation (each wedge built at its
  * lowest-(deg,id) corner), which bounds intermediate wedges by
  * O(m^1.5) regardless of hub skew — the standard MapReduce triangle
  * trick. BFS expands a frontier level-by-level with anti-joins
  * against the visited set; at 100 TB both sides stay keyed on the
  * node id.
  */
object Graph extends Registered {

  private val Scale = 1000000000L // 1e9 fixed-point unit

  /** Canonical undirected co-purchase edges (src < dst), thresholded
    * on order co-occurrence support — a plan-only filter+projection
    * over the ONE shared cached pair-count rollup
    * ([[cachedPairCounts]]), so every (dir, minSupport) variant and
    * the K30/K31 market-basket family all serve from the same cold
    * build instead of each re-deriving the basket → pair chain. */
  private[operators] def canonicalEdges(spark: SparkSession, dir: String,
                                        minSupport: Int): DataFrame =
    cachedPairCounts(spark, dir)
      .filter(col("n_orders") >= minSupport)
      .select(col("src"), col("dst"))

  /** MATERIALIZED: `pairs` is referenced twice by every consumer
    * (both edge directions) and sits under unrolled iteration chains
    * — DuckDB inlines multiply-referenced CTEs, which re-expands this
    * self-join once per reference (exponentially under the CC/BFS
    * unrolls). */
  private val pairsSqlCte: String =
    """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= %d)""".stripMargin

  /** The canonical edge list, CACHED: every operator here reuses the
    * edge table several times in one DAG (a union with its own
    * reversal, one join per PageRank iteration, one scan per BFS
    * level), and without a cache Spark re-runs the two-shuffle K30
    * pair rollup once per reuse — measured 13 s → ~3 s on triangles
    * at sf0.1. `.cache()` is lazy (plan-only construction stays
    * job-free), and Spark's CacheManager dedups by plan equality, so
    * repeated calls share one materialization. This is exactly the
    * "cache the adjacency before iterating" rule every Pregel-on-
    * Spark implementation lives by; at 100 TB this is a
    * MEMORY_AND_DISK persist of the edge list, paid once.
    *
    * Lifecycle: cached plans are [[graft.Memo.cached]] entries, so a
    * data rewrite under `dir` unpersists the superseded entry instead
    * of accumulating dead cached tables for the life of the session.
    * Per dir there are exactly TWO live cached tables — the basket
    * arrays and the unthresholded pair counts — shared by every
    * minSupport variant and by K30/K31. */
  private def lineitemSrc(dir: String): Seq[String] =
    Seq(s"$dir/lineitem.parquet")

  /** The ITERATIVE ops' converged checkpointed tables (O1/O3/O4/O5/O9)
    * depend on the co-purchase graph and, for the brand-seeded ones,
    * on `part`. */
  private def seededSrc(dir: String): Seq[String] =
    Seq(s"$dir/lineitem.parquet", s"$dir/part.parquet")

  /** The shared cold build, stage 1: per-order sorted distinct-part
    * baskets — the first shuffle of EVERY market-basket/graph
    * operator (K30/K31 and the whole O-family), cached once per dir.
    * K31's per-part marginals and order total also derive from this
    * table, so its cold build is paid exactly once. */
  private[operators] def cachedBaskets(spark: SparkSession,
                                       dir: String): DataFrame = {
    Memo.cached(spark, s"graph:$dir:baskets", lineitemSrc(dir))(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts")))
  }

  /** The shared cold build, stage 2: UNthresholded co-purchase pair
    * counts (src < dst, n_orders) — pairs expand MAP-SIDE from the
    * cached basket arrays (nested transform + flatten, i < j by
    * construction, ≤ 21 pairs per ≤ 7-line TPC-H order, so O(n)
    * never O(n²)), then one pair-keyed rollup. Cached UNthresholded
    * so every minSupport variant, K30's top-k, and K31's rules are
    * plan-only filters over ONE materialization — previously each
    * (dir, minSupport) kept its own cached edge table and K30/K31
    * re-ran the whole chain per query. */
  private[operators] def cachedPairCounts(spark: SparkSession,
                                          dir: String): DataFrame = {
    Memo.cached(spark, s"graph:$dir:paircounts", lineitemSrc(dir))(
      cachedBaskets(spark, dir)
        .select(explode(expr(
          """flatten(transform(parts, (x, i) ->
            |  transform(slice(parts, i + 2, size(parts)),
            |            y -> struct(x AS src, y AS dst))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.src").as("src"), col("p.dst").as("dst"))
        .agg(count(lit(1)).as("n_orders")))
  }

  /** The shared cold build, stage 3: the degree-ORIENTED edge table
    * (u → v iff (deg_u, u) < (deg_v, v) — the compact-forward
    * orientation whose wedge work is bounded by O(m^1.5)), cached once
    * per (dir, minSupport) and SHARED by O2/O6/O14. Extracted from the
    * former duplicate cached sites so [[warmShared]] can
    * materialize it by name. */
  private[operators] def orientedCached(spark: SparkSession, dir: String,
                                        minSupport: Int): DataFrame = {
    val e = directedEdges(spark, dir, minSupport)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "node")
    val withDeg = canonicalEdges(spark, dir, minSupport)
      .join(deg.select(col("node"), col("d").as("da")),
        col("src") === col("node")).drop("node")
      .join(deg.select(col("node"), col("d").as("db")),
        col("dst") === col("node")).drop("node")
    Memo.cached(spark, s"graph:$dir:$minSupport:oriented",
      lineitemSrc(dir))(
      withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("src") < col("dst")),
          struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v"))).as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v")))
  }

  /** Bench/deployment seam (the r12 verdict's ask #2): explicitly
    * materialize the CROSS-QUERY shared caches — the basket table, the
    * unthresholded pair counts, and both registered minSupport
    * variants of the oriented edge table — so a timed full-registry
    * pass measures each graph query's OWN work instead of whichever
    * family member happens to run first absorbing the shared cold
    * build (the BASELINE §1b whipsaw, 4 rounds running). A production
    * deployment does the same: shared build artifacts are materialized
    * once at startup, not billed to an arbitrary first query. */
  def warmShared(spark: SparkSession, dir: String): Unit = {
    cachedPairCounts(spark, dir).count() // stage 1 (baskets) + stage 2
    orientedWithAdj(spark, dir, 1).count() // oriented + closure, default family
    orientedWithAdj(spark, dir, 2).count() // the param_ instantiations
  }

  /** Both directions of the canonical edge list. */
  /** The symmetric edge table, REPARTITIONED BY src and cached, one
    * live entry per (dir, minSupport) (r14). Every iterative operator
    * (the O3/O11/O13 truncated BFS family, O1's rank loop, O10's
    * label propagation, O9's peeling, O12's HyperBall) joins this
    * table on `src` once per hop/round against a small evolving
    * frontier/state table — and those state tables are checkpointed
    * LogicalRDDs whose size statistics are UNKNOWN, so AQE can never
    * choose to broadcast them and each round's join re-shuffled the
    * full edge table (measured at the 100x replica: 3 hops × 2 joins
    * × ~200M-row edge shuffles ≈ 50+ GB of spill to serve a 16M-row
    * visited table — a disk-full, not a slowdown). With the edge side
    * carrying a fixed HashPartitioning(src) from the cache, every
    * per-round join satisfies its required distribution for free and
    * only the frontier side moves — the GraphX economics (edges
    * partitioned once, messages shuffle). O1/O5's adjacency, this
    * table joined to the degrees and cached for one build, keeps that
    * partitioning too. */
  private def directedEdges(spark: SparkSession, dir: String,
                            minSupport: Int): DataFrame = {
    Memo.cached(spark, s"graph:$dir:dedges:$minSupport", lineitemSrc(dir)) {
      val e = canonicalEdges(spark, dir, minSupport)
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
    }
  }

  private val edgesSqlCte: String =
    """edges AS (SELECT src, dst FROM pairs
      |  UNION ALL SELECT dst, src FROM pairs)""".stripMargin

  /** O11 `graph_closeness` — truncated HARMONIC closeness centrality
    * from a bounded seed set: for each of the nSeeds lowest-keyed
    * parts of a brand present in the graph, a seed-labeled BFS to
    * maxHops and the harmonic sum Σ_{v reachable} 1/d(seed, v) —
    * harmonic (not classic 1/Σd) because it is well-defined under
    * disconnection, and hop-truncated because that is the only form
    * a 100 TB graph ever computes (full closeness is a full APSP).
    * The sum needs NO float accumulation: distances are the hop
    * integers 1..maxHops, so harmonic = Σ_k n_k/k over the per-level
    * counts — exact counts, one fixed IEEE shape, round-6 serve.
    *
    * Scale: O3's per-level economics with a (seed, node) composite
    * frontier — each level is one src-keyed equi join + distinct +
    * anti join against the visited set, level tables eager-
    * checkpointed (a real job per level), memoized under the
    * release-on-supersede discipline. Seed count is the CONTRACT
    * bound (frontier ≤ nSeeds × nodes); per-seed BFS beyond a few
    * hundred seeds wants the sketch route (HyperBall/HLL counters),
    * which F9/F15 already provide the primitive for. */
  /** The memoized seed-labeled BFS table (seed, node, hops) O11 and
    * O12 both serve from (private[graft]: the O12 spec replays it). */
  private[graft] def closenessVisited(spark: SparkSession, dir: String,
      brand: String, nSeeds: Int, minSupport: Int,
      maxHops: Int): DataFrame = {
    val key = s"graph:$dir:closeness:$brand:" +
      s"$nSeeds:$minSupport:$maxHops"
    Memo.checkpointed(spark, key, seededSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val nodes = e.select(col("src").as("node")).distinct()
      val seeds = Tables.part(spark, dir)
        .filter(col("p_brand") === brand)
        .select(col("p_partkey").as("node"))
        .join(nodes, "node")
        .orderBy(col("node")).limit(nSeeds)
        .select(col("node").as("seed"), col("node"), lit(0).as("hops"))
        .cutLineage()
      var acc = seeds
      var frontier = seeds.select(col("seed"), col("node"))
      for (h <- 1 to maxHops) {
        val next = e.join(frontier, e("src") === frontier("node"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(acc.select(col("seed").as("vs"), col("node").as("vn")),
            col("seed") === col("vs") && col("node") === col("vn"),
            "left_anti")
          .cutLineage()
        frontier = next.select(col("seed"), col("node"))
        acc = acc.union(next.select(col("seed"), col("node"),
          lit(h).as("hops")))
      }
      acc
    }
  }

  def closeness(spark: SparkSession, dir: String, brand: String = "Brand#1",
                nSeeds: Int = 8, minSupport: Int = 1,
                maxHops: Int = 3): DataFrame = {
    val visited = closenessVisited(spark, dir, brand, nSeeds, minSupport,
      maxHops)
    val harmonic = (1 to maxHops)
      .map(k => count(when(col("hops") === k, lit(1))).cast("double")
        / lit(k.toDouble))
      .reduce(_ + _)
    visited.filter(col("hops") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        round(harmonic, 6).as("harmonic"))
      .orderBy(col("seed"))
  }

  /** The seed-labeled BFS level CTEs (h0/v0 … h_maxHops/v_maxHops) —
    * shared by the O11/O12 closeness oracles and O15's diameter
    * oracle. */
  private def closenessLevelsSqlCte(brand: String, nSeeds: Int,
      minSupport: Int, maxHops: Int): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |h0 AS (SELECT node AS seed, node, 0 AS hops FROM (
         |  SELECT p.p_partkey AS node FROM part p
         |  JOIN gnodes g ON g.node = p.p_partkey
         |  WHERE p.p_brand = '$brand' ORDER BY node LIMIT $nSeeds)),
         |v0 AS (SELECT seed, node, hops FROM h0)""".stripMargin
    val steps = (1 to maxHops).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT seed, node, $i AS hops FROM (
         |    SELECT DISTINCT f.seed, e.dst AS node
         |    FROM edges e JOIN h${i - 1} f ON e.src = f.node) c
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} p
         |    WHERE p.seed = c.seed AND p.node = c.node)),
         |v$i AS MATERIALIZED (SELECT seed, node, hops FROM v${i - 1}
         |        UNION ALL SELECT seed, node, hops FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  def closenessSql(brand: String = "Brand#1", nSeeds: Int = 8,
                   minSupport: Int = 1, maxHops: Int = 3): String = {
    val harm = (1 to maxHops)
      .map(k => s"CAST(COUNT(CASE WHEN hops = $k THEN 1 END) AS DOUBLE) / $k.0")
      .mkString(" + ")
    s"""${closenessLevelsSqlCte(brand, nSeeds, minSupport, maxHops)}
       |SELECT seed, COUNT(*) AS n_reached,
       |  ROUND($harm, 6) AS harmonic
       |FROM v$maxHops WHERE hops > 0 GROUP BY 1 ORDER BY seed""".stripMargin
  }

  /** O12 `graph_closeness_hyperball` — HyperBall (Boldi–Vigna):
    * the SKETCH route O11's doc names as the beyond-contract path,
    * now served. Every node carries an HLL counter of its radius-t
    * ball; one iteration unions each node's counter with its
    * neighbors' (B_t(v) = B_{t-1}(v) ∪ ⋃_{v→w} B_{t-1}(w)), so
    * ALL-nodes neighborhood functions cost O(iters × edges) with
    * counter-sized state — the only way closeness runs on a 100 TB
    * graph (per-seed BFS is bounded by the seed contract; HyperBall
    * has no seed bound). Ball-size estimates then give harmonic
    * centrality from the sketch DELTAS Σ_t (|B_t|−|B_{t-1}|)/t.
    *
    * Serve discipline (F9/F15's): DataSketches union ESTIMATES are
    * not bit-stable across partition splits, so the hash-compared
    * columns are O11's exact BFS answers on the bounded seed slice,
    * and the sketch route is served as `sketch_in_band` — TRUE iff
    * every radius's estimated ball size is within ±15%+1 of the
    * exact ball size (HLL lgK=12, rsd ≈1.6%, band = ~9σ) — which the
    * oracle pins TRUE. The sketch table itself is computed over the
    * WHOLE graph (the real algorithm), not just the seeds; the seed
    * slice is where exactness can be proven. */
  def closenessHyperball(spark: SparkSession, dir: String,
      brand: String = "Brand#1", nSeeds: Int = 8, minSupport: Int = 1,
      maxHops: Int = 3): DataFrame = {
    val visited = closenessVisited(spark, dir, brand, nSeeds, minSupport,
      maxHops)
    val seedEsts = hyperballSeedEsts(spark, dir, visited, brand, nSeeds,
      minSupport, maxHops)
    val exactBalls = (1 to maxHops).map(t =>
      visited.groupBy(col("seed"))
        .agg(count(when(col("hops") <= t, lit(1))).as("exact_ball"))
        .withColumn("t", lit(t))).reduce(_ unionAll _)
    val inBand = seedEsts.join(exactBalls, Seq("seed", "t"))
      .groupBy(col("seed"))
      .agg(bool_and(abs(col("est") - col("exact_ball"))
        <= col("exact_ball").cast("double") * 0.15 + 1.0)
        .as("sketch_in_band"))
    closeness(spark, dir, brand, nSeeds, minSupport, maxHops)
      .join(inBand, Seq("seed"))
      .select(col("seed"), col("n_reached"), col("harmonic"),
        col("sketch_in_band"))
      .orderBy(col("seed"))
  }

  /** The HyperBall iteration itself: all-nodes ball counters, seed
    * slice estimated per radius — (seed, t, est), bounded
    * nSeeds × maxHops rows, memoized. private[graft] so the spec can
    * band-check the raw estimates the serve folds into its boolean. */
  private[graft] def hyperballSeedEsts(spark: SparkSession, dir: String,
      visited: DataFrame, brand: String, nSeeds: Int, minSupport: Int,
      maxHops: Int): DataFrame = {
    val key = s"graph:$dir:hyperball:$brand:" +
      s"$nSeeds:$minSupport:$maxHops"
    Memo.checkpointed(spark, key, seededSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val seeds = broadcast(
        visited.filter(col("hops") === 0).select(col("seed")))
      // lgK = 10 (rsd 3.25%, ~4.6σ inside the ±15%+1 band): the
      // counter SIZE is the shuffle-volume control of the relational
      // HyperBall — every iteration shuffles edges × counter bytes,
      // and the default lgK=12 (4 KB max/counter) measured 4× the
      // spill of lgK=10 at the 10× replica (filled a 65 GB /tmp)
      val lgK = 10
      var balls = e.select(col("src").as("node")).distinct()
        .groupBy(col("node"))
        .agg(hll_sketch_agg(col("node"), lgK).as("sk")) // B_0(v) = {v}
        .cutLineage()
      val rounds = scala.collection.mutable.ListBuffer(balls)
      var ests: DataFrame = null
      for (t <- 1 to maxHops) {
        val nbr = e.join(balls, e("dst") === balls("node"))
          .select(e("src").as("bnode"), col("sk"))
          .groupBy(col("bnode"))
          .agg(hll_union_agg(col("sk")).as("nsk"))
        val prev = balls
        balls = prev.join(nbr, prev("node") === nbr("bnode"), "left")
          .select(prev("node"),
            when(col("nsk").isNull, prev("sk"))
              .otherwise(hll_union(prev("sk"), col("nsk"))).as("sk"))
          .cutLineage()
        rounds += balls
        val est = balls.join(seeds, balls("node") === seeds("seed"))
          .select(col("seed"), lit(t).as("t"),
            hll_sketch_estimate(col("sk")).as("est"))
        ests = if (ests == null) est else ests.unionAll(est)
      }
      val out = ests.cutLineage()
      // the bounded est table is materialized: the per-round sketch
      // tables (node × counter — the expensive blocks) can go
      rounds.foreach(Ckpt.release)
      out
    }
  }

  def closenessHyperballSql(brand: String = "Brand#1", nSeeds: Int = 8,
      minSupport: Int = 1, maxHops: Int = 3): String =
    s"""SELECT seed, n_reached, harmonic, TRUE AS sketch_in_band FROM (
       |${closenessSql(brand, nSeeds, minSupport, maxHops)}
       |) ORDER BY seed""".stripMargin

  /** O15 `graph_eff_diameter` — hop-truncated EFFECTIVE-DIAMETER
    * report (Palmer/ANF, Boldi–Vigna's HyperANF serve): per radius t,
    * the neighborhood function over the seed slice
    * N(t) = Σ_seeds |B_t(seed)| (exact, from the O11 memoized BFS),
    * its fraction of N(maxHops), and the effective diameter — the
    * SMALLEST t whose cumulative pair mass reaches `qBp`/10000 of the
    * truncation total (the standard 90th-percentile-distance
    * definition, hop-truncated like everything on a 100 TB graph).
    * The threshold compare is pure integer arithmetic
    * (n_pairs·10000 ≥ qBp·total) so the diameter pick is engine-exact,
    * never a float boundary. The O12 sketch route rides along:
    * `sketch_in_band` per radius is TRUE iff EVERY seed's HyperBall
    * estimate is within ±15%+1 of its exact ball (the F9/F15 band
    * discipline; the oracle pins TRUE) — the serve demonstrates the
    * sketch's N(t) would have picked the same diameter.
    *
    * Scale: the BFS is the O11 memoized seed-slice table (contract-
    * bounded); the sketch is O12's memoized all-nodes iteration; the
    * serve is maxHops rows + two tiny windows — metadata-scale. */
  def effDiameter(spark: SparkSession, dir: String,
      brand: String = "Brand#1", nSeeds: Int = 8, minSupport: Int = 1,
      maxHops: Int = 3, qBp: Int = 9000): DataFrame = {
    val visited = closenessVisited(spark, dir, brand, nSeeds, minSupport,
      maxHops)
    val seedEsts = hyperballSeedEsts(spark, dir, visited, brand, nSeeds,
      minSupport, maxHops)
    // ONE aggregate pass per table, radii unpivoted with stack() — a
    // per-radius agg-union would plan one exchange per t
    val ballCols = (1 to maxHops).map(t =>
      count(when(col("hops") <= t, lit(1))).as(s"b$t"))
    val stackExpr = s"stack($maxHops, " +
      (1 to maxHops).map(t => s"$t, b$t").mkString(", ") + ")"
    val perT = visited.agg(ballCols.head, ballCols.tail: _*)
      .selectExpr(s"$stackExpr AS (t, n_pairs)")
    val exactBalls = visited.groupBy(col("seed"))
      .agg(ballCols.head, ballCols.tail: _*)
      .selectExpr("seed", s"$stackExpr AS (t, exact_ball)")
    val band = seedEsts.join(exactBalls, Seq("seed", "t"))
      .groupBy(col("t"))
      .agg(bool_and(abs(col("est") - col("exact_ball"))
        <= col("exact_ball").cast("double") * 0.15 + 1.0)
        .as("sketch_in_band"))
    val wAll = Window.partitionBy()
    perT.join(band, Seq("t"))
      .withColumn("total",
        max(when(col("t") === maxHops, col("n_pairs"))).over(wAll))
      .withColumn("frac", round(
        col("n_pairs").cast("double") / col("total").cast("double"), 6))
      .withColumn("eff_t", min(when(
        col("n_pairs") * lit(10000L) >= lit(qBp.toLong) * col("total"),
        col("t"))).over(wAll))
      .select(col("t"), col("n_pairs"), col("frac"),
        (col("t") <=> col("eff_t")).as("is_effective_diameter"),
        col("sketch_in_band"))
      .orderBy(col("t"))
  }

  def effDiameterSql(brand: String = "Brand#1", nSeeds: Int = 8,
      minSupport: Int = 1, maxHops: Int = 3, qBp: Int = 9000): String = {
    val counts = (1 to maxHops)
      .map(t => s"SELECT $t AS t, COUNT(*) AS n_pairs FROM v$t")
      .mkString("\n  UNION ALL ")
    s"""${closenessLevelsSqlCte(brand, nSeeds, minSupport, maxHops)},
       |counts AS (
       |  $counts
       |), tot AS (SELECT COUNT(*) AS total FROM v$maxHops)
       |SELECT t, n_pairs,
       |  ROUND(CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS frac,
       |  t IS NOT DISTINCT FROM (
       |    SELECT MIN(t) FROM counts, tot
       |    WHERE n_pairs * 10000 >= $qBp * total) AS is_effective_diameter,
       |  TRUE AS sketch_in_band
       |FROM counts, tot ORDER BY t""".stripMargin
  }

  // --------------------------------------------------------------- O13
  /** Fixed-point scale of the Brandes dependency accumulation (1e9 —
    * O1's PageRank discipline). Magnitude audit at maxHops = 3:
    * σ ≤ ~1e6 (hop-3 path counts), δ̂ ≤ succ × SCALE ≤ ~1e12, per-term
    * product σ·(SCALE+δ̂) ≤ ~1e15, seed-summed serve ≤ ~1e16 — two
    * orders inside Long range, and BIGINT→DOUBLE at the serve is
    * below 2^53 only after the /1e9, which both engines perform in
    * the same single IEEE shape. */
  private val BetwScale = 1000000000L

  /** O13 `graph_betweenness` — truncated BETWEENNESS centrality from
    * a bounded seed set (source-sampled Brandes; Brandes 2001,
    * Brandes–Pich 2007): completes the centrality trio next to O1's
    * PageRank and O11's closeness. Forward: the O11 seed-labeled BFS,
    * but each level carries σ(seed, v) — the COUNT of shortest paths
    * — as an exact BIGINT (σ_v = Σ σ_u over its previous-level
    * predecessors: the BFS join becomes a (seed, dst) SUM instead of
    * a DISTINCT — same shuffle shape). Backward: Brandes' dependency
    * accumulation δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)), one
    * level at a time from the truncation depth down, in BIGINT
    * FIXED-POINT (δ̂ = δ·1e9, integer div — all operands positive, so
    * Spark `div` ≡ DuckDB `//`): integer sums are order-independent,
    * so the one float hazard of Brandes (summing path-ratio fractions
    * in nondeterministic partition order) never exists. Hop
    * truncation is the k-betweenness every 100 TB graph computes
    * (full Brandes is all-sources APSP); the seed set is the CONTRACT
    * bound, and per-seed work is O(maxHops × edges).
    *
    * Scale: forward = O3/O11's per-level economics (src-keyed equi
    * join + (seed, dst)-keyed rollup + anti join, level tables
    * eager-checkpointed, released once the bounded δ tables are
    * materialized); backward = per level one src-keyed join to the
    * next level's (σ, δ̂) and one (seed, node) rollup — linear in
    * level edges, never quadratic. Serve: top-`limit` by the exact
    * fixed-point total (ties by node), with the round-6 double
    * beside it. */
  private[graft] def betweennessDeltas(spark: SparkSession, dir: String,
      brand: String, nSeeds: Int, minSupport: Int,
      maxHops: Int): DataFrame = {
    val key = s"graph:$dir:betweenness:" +
      s"$brand:$nSeeds:$minSupport:$maxHops"
    Memo.checkpointed(spark, key, seededSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val nodes = e.select(col("src").as("node")).distinct()
      val seeds = Tables.part(spark, dir)
        .filter(col("p_brand") === brand)
        .select(col("p_partkey").as("node"))
        .join(nodes, "node")
        .orderBy(col("node")).limit(nSeeds)
        .select(col("node").as("seed"), col("node"), lit(1L).as("sigma"))
        .cutLineage()
      // forward: levels(h) = (seed, node, sigma) first reached at hop h
      var levels = Vector(seeds)
      var visited = seeds.select(col("seed"), col("node"))
      for (_ <- 1 to maxHops) {
        val prev = levels.last
          .select(col("seed"), col("node").as("pn"), col("sigma"))
        val next = e.join(prev, e("src") === col("pn"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("seed"), col("dst").as("node"), col("sigma"))
          .join(visited.select(col("seed").as("vs"), col("node").as("vn")),
            col("seed") === col("vs") && col("node") === col("vn"),
            "left_anti")
          .cutLineage()
        levels = levels :+ next
        visited = visited.union(next.select(col("seed"), col("node")))
      }
      // backward: δ̂(level maxHops) = 0; accumulate down to level 1
      var deltaNext = levels(maxHops)
        .select(col("seed"), col("node"), lit(0L).as("delta_fp"))
      var acc: DataFrame = null
      for (h <- (maxHops - 1) to 1 by -1) {
        val lv = levels(h)
        val succ = levels(h + 1)
          .select(col("seed").as("ws"), col("node").as("wn"),
            col("sigma").as("wsig"))
          .join(deltaNext.select(col("seed").as("ds"),
            col("node").as("dn"), col("delta_fp")),
            col("ws") === col("ds") && col("wn") === col("dn"))
          .select(col("ws"), col("wn"), col("wsig"), col("delta_fp"))
        val dH = lv.join(e, e("src") === lv("node"))
          .join(succ, lv("seed") === succ("ws") && e("dst") === succ("wn"))
          .select(lv("seed"), lv("node"),
            expr(s"(sigma * ($BetwScale + delta_fp)) div wsig").as("c"))
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("c")).as("delta_fp"))
          .cutLineage()
        acc = if (acc == null) dH else acc.union(dH)
        // next round needs δ̂ for EVERY level-h node (0 when no succ)
        deltaNext = lv.select(col("seed"), col("node"))
          .join(dH.select(col("seed").as("ds2"), col("node").as("dn2"),
            col("delta_fp")),
            col("seed") === col("ds2") && col("node") === col("dn2"),
            "left_outer")
          .select(col("seed"), col("node"),
            coalesce(col("delta_fp"), lit(0L)).as("delta_fp"))
      }
      // the bounded δ tables are materialized: the forward level
      // blocks (the expensive ones) can go (the ADVICE r10 lesson —
      // release every checkpoint the returned union does not carry)
      levels.foreach(Ckpt.release)
      acc
    }
  }

  def betweenness(spark: SparkSession, dir: String,
      brand: String = "Brand#1", nSeeds: Int = 8, minSupport: Int = 1,
      maxHops: Int = 3, limit: Int = 100): DataFrame =
    betweennessDeltas(spark, dir, brand, nSeeds, minSupport, maxHops)
      .groupBy(col("node"))
      .agg(countDistinct(col("seed")).as("n_seeds"),
        sum(col("delta_fp")).as("betweenness_fp"))
      .select(col("node"), col("n_seeds"), col("betweenness_fp"),
        round(col("betweenness_fp").cast("double")
          / lit(BetwScale.toDouble), 6).as("betweenness"))
      .orderBy(col("betweenness_fp").desc, col("node")).limit(limit)

  def betweennessSql(brand: String = "Brand#1", nSeeds: Int = 8,
      minSupport: Int = 1, maxHops: Int = 3, limit: Int = 100): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS MATERIALIZED (SELECT node AS seed, node,
         |  CAST(1 AS BIGINT) AS sigma FROM (
         |  SELECT p.p_partkey AS node FROM part p
         |  JOIN gnodes g ON g.node = p.p_partkey
         |  WHERE p.p_brand = '$brand' ORDER BY node LIMIT $nSeeds)),
         |v0 AS (SELECT seed, node FROM l0)""".stripMargin
    val fwd = (1 to maxHops).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT seed, node, CAST(SUM(sigma) AS BIGINT) AS sigma FROM (
         |    SELECT f.seed, e.dst AS node, f.sigma
         |    FROM edges e JOIN l${i - 1} f ON e.src = f.node) c
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} p
         |    WHERE p.seed = c.seed AND p.node = c.node)
         |  GROUP BY 1, 2),
         |v$i AS MATERIALIZED (SELECT seed, node FROM v${i - 1}
         |        UNION ALL SELECT seed, node FROM l$i)""".stripMargin
    }.mkString(",\n")
    val bwd = ((maxHops - 1) to 1 by -1).map { h =>
      val dNext = if (h == maxHops - 1) "(SELECT seed, node, " +
        s"CAST(0 AS BIGINT) AS delta_fp FROM l$maxHops)"
      else s"d${h + 1}"
      s"""d$h AS MATERIALIZED (
         |  SELECT v.seed, v.node,
         |    CAST(SUM((v.sigma * ($BetwScale + COALESCE(d.delta_fp, 0)))
         |      // w.sigma) AS BIGINT) AS delta_fp
         |  FROM l$h v JOIN edges e ON e.src = v.node
         |  JOIN l${h + 1} w ON w.seed = v.seed AND w.node = e.dst
         |  LEFT JOIN $dNext d ON d.seed = w.seed AND d.node = w.node
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val unions = ((maxHops - 1) to 1 by -1)
      .map(h => s"SELECT seed, node, delta_fp FROM d$h")
      .mkString(" UNION ALL ")
    s"""$base,
       |$fwd,
       |$bwd
       |SELECT node, COUNT(DISTINCT seed) AS n_seeds,
       |  CAST(SUM(delta_fp) AS BIGINT) AS betweenness_fp,
       |  ROUND(CAST(SUM(delta_fp) AS DOUBLE) / $BetwScale.0, 6)
       |    AS betweenness
       |FROM ($unions) GROUP BY 1
       |ORDER BY betweenness_fp DESC, node LIMIT $limit""".stripMargin
  }

  /** The adjacency (src, dst, d = out-degree of src) of O1 and O5,
    * with the (node, d) degree table that seeds round 0. */
  private def rankAdjacency(spark: SparkSession, dir: String,
                            minSupport: Int): (DataFrame, DataFrame) = {
    val e = directedEdges(spark, dir, minSupport)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "node")
    (e.join(deg, e("src") === deg("node"))
      .select(col("src"), col("dst"), col("d")), deg)
  }

  /** The BIGINT fixed-point PageRank recurrence that O1, O5 and I27
    * `text_textrank` share, run for `iters` rounds from the (node,
    * rank) table `init`: every source sends `share` (an integer SQL
    * expression over its `rank` and its `adj` row) along each
    * out-edge, a node's in-mass `s` is damped to m = (85 · s) div 100
    * in DECIMAL (see [[pagerank]] on overflow), and `teleport` adds
    * the restart term to the (node, m) table, returning (node, rank).
    * All-integer: Column./ on longs would route through double
    * (inexact past 2^53, truncation vs floor), so every division
    * stays a SQL `div` (IntegralDivide handles DECIMAL).
    *
    * `adj` (src, dst, …) is cached for the loop ([[Memo.scoped]]):
    * every round joins it on `src`, and the cache keeps the edge
    * table's HashPartitioning(src), so only the rank side moves. */
  private[operators] def rankRounds(adj: DataFrame, init: DataFrame,
      iters: Int, share: String)(
      teleport: DataFrame => DataFrame): DataFrame =
    Memo.scoped { cache =>
      val held = cache(adj)
      Ckpt.rounds(init, iters) { (ranks, _) =>
        teleport(held.join(ranks, held("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(expr(share)).as("s"))
          .select(col("dst").as("node"),
            expr("(85 * CAST(s AS DECIMAL(38,0))) div 100").as("m")))
      }
    }

  /** O1 `graph_pagerank` — damped PageRank over the co-purchase
    * graph in BIGINT fixed-point (SCALE = 1e9, d = 0.85), the
    * "importance seed" for recommendation candidates. Unnormalized
    * convention: r0 = SCALE per node, r' = 0.15·SCALE +
    * (85 · Σ_u floor(r_u / deg_u)) div 100 — every operation is
    * integer, so the result is engine-exact with no float-sum order
    * sensitivity (deg ≥ 1 for every node by construction, so there
    * are no dangling-mass corrections). Serve = deterministic top-k
    * on (rank desc, part).
    *
    * Scale: adjacency (src, dst, deg_src) is built once; each of the
    * `iters` rounds is one src-keyed equi join against the (node,
    * rank) table (co-partitioned if adjacency is hash-partitioned by
    * src once) plus one dst-keyed partial agg. The rank table is one
    * row per node — never broadcast at 100 TB, always a keyed
    * shuffle. Overflow headroom: per-node contributions `rank div d`
    * sum in LongType (a node's in-mass is bounded by total mass
    * ≈ N·SCALE < 2^63 up to N ≈ 9·10⁹ nodes), but the ×85 step runs
    * in DECIMAL — at the 100 TB design point (N ≈ 10⁸ nodes, total
    * mass ≈ 10¹⁷) a hub's 85·s reaches ~8.5·10¹⁸ > 2^63, which a
    * LongType multiply would wrap SILENTLY in non-ANSI mode while the
    * DuckDB oracle computes the same step in HUGEINT. The decimal
    * product keeps Spark exact to 38 digits; the post-division rank
    * always fits BIGINT again (bounded by total mass).
    *
    * The converged rank table is memoized ([[Memo.checkpointed]]) and
    * [[rankRounds]] cuts every round ([[Ckpt.rounds]]): each round's plan
    * references the previous round's, so an unrolled lazy chain pays
    * O(iters²) analysis time and re-plans on every action — deep
    * `iters` (param_graph_pagerank runs 20) needs each round cut to a
    * leaf. */
  def pagerank(spark: SparkSession, dir: String, minSupport: Int = 1,
               iters: Int = 5, limit: Int = 100): DataFrame = {
    val key = s"graph:$dir:pr:$minSupport:$iters"
    val ranksFinal = Memo.checkpointed(spark, key, lineitemSrc(dir)) {
      val (adj, deg) = rankAdjacency(spark, dir, minSupport)
      rankRounds(adj, deg.select(col("node"), lit(Scale).as("rank")),
          iters, "rank div d")(
        _.select(col("node"), (lit(15L * Scale / 100) + col("m")).as("rank")))
    }
    ranksFinal.select(col("node").as("part"), col("rank").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part"))
      .limit(limit)
  }

  def pagerankSql(minSupport: Int = 1, iters: Int = 5,
                  limit: Int = 100): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
         |adj AS MATERIALIZED (SELECT e.src, e.dst, d.d FROM edges e
         |        JOIN deg d ON e.src = d.node),
         |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS rank FROM deg)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT a.dst AS node,
         |  CAST(${15L * Scale / 100} + (85 * SUM(r.rank // a.d)) // 100
         |       AS BIGINT) AS rank
         |  FROM adj a JOIN r${i - 1} r ON a.src = r.node GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT node AS part, rank AS rank_fp FROM r$iters
       |ORDER BY rank_fp DESC, part LIMIT $limit""".stripMargin
  }

  /** O2 `graph_triangles` — per-node triangle participation counts
    * (local clustering signal: how densely a part's co-purchase
    * neighborhood interlocks), served as a deterministic top-k.
    *
    * The Spark side uses DEGREE-ORDERED ORIENTATION: each undirected
    * edge points from its lower-(deg, id) endpoint to the higher one,
    * every wedge is generated only at its lowest corner, and a
    * triangle closes when the (v, w) wedge arms are themselves an
    * oriented edge. Wedge count is bounded by Σ C(outdeg, 2) =
    * O(m^1.5) — a hub of degree 10⁶ contributes no wedges from its
    * own corner because orientation points INTO it; this is what
    * makes triangle counting survive power-law skew at 100 TB. The
    * closure join is a plain two-column equi join. The oracle states
    * the naive a<b<c three-way self-join — hash equality proves the
    * oriented algorithm counts exactly the same triangles. */
  def triangles(spark: SparkSession, dir: String, minSupport: Int = 1,
                limit: Int = 100): DataFrame = {
    // compact-forward: out-adjacency as a SORTED array per node
    // (orientation bounds |N+| by O(√m) — max 97 on this graph), and
    // each oriented edge (u, v) closes its triangles MAP-SIDE via
    // array_intersect(N+(u), N+(v)) — each triangle found exactly
    // once at its two lowest-(deg,id) corners' edge. vs the explicit
    // wedge build: the 41M-row wedge table (sf0.1) never exists and
    // never shuffles into a closure join; the only moved data is the
    // edge list joined twice against the node-keyed adjacency table
    // (measured 4.3 s → ~1 s at sf0.1). The oriented table + closure
    // live in [[orientedWithAdj]], shared (incl. its cache) with O14.
    val tris = orientedWithAdj(spark, dir, minSupport)
      .select(col("u"), col("v"), explode(col("ws")).as("w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(limit)
  }

  /** Per-edge triangle closures over a canonical (src < dst) edge
    * set — O2's compact-forward shape: orient each edge from its
    * lower-(deg, id) endpoint, build the sorted out-adjacency, and
    * close map-side via array_intersect; with this orientation each
    * triangle appears EXACTLY ONCE (at its lowest corner's (u, v)
    * edge — w ∈ N⁺(u)∩N⁺(v); the other two edges see an empty
    * intersection because the highest corner has no oriented edge
    * back). Returns (u, v, ws) — O14 aggregates both its exact and
    * its coin-marked sampled totals from this one pass.
    *
    * CACHED (r13): O2, O6 and O14 all consume exactly this closure,
    * and each was re-paying the adjacency build + double join +
    * intersect per query (~1 s each at sf0.1 full-registry — the
    * residual §1b drift after the oriented table itself was shared).
    * The cached rows are (u, v, ws) where |ws| = triangles closed on
    * that edge — edge-cardinality, far smaller than the wedge work
    * that produces it, which is what makes it the right artifact to
    * share. */
  private[operators] def orientedWithAdj(spark: SparkSession, dir: String,
                                         minSupport: Int): DataFrame = {
    Memo.cached(spark, s"graph:$dir:$minSupport:oclosure",
      lineitemSrc(dir)) {
      val oriented = orientedCached(spark, dir, minSupport)
      val adj = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      oriented
        .join(adj.select(col("u").as("au"), col("nbrs").as("u_nbrs")),
          col("u") === col("au"))
        .join(adj.select(col("u").as("av"), col("nbrs").as("v_nbrs")),
          col("v") === col("av"))
        .select(col("u"), col("v"),
          array_intersect(col("u_nbrs"), col("v_nbrs")).as("ws"))
    }
  }

  /** O14 `graph_triangles_sampled` — DOULION sampled triangle
    * counting (Tsourakakis, Kang, Miller & Faloutsos, KDD 2009: toss
    * a coin per EDGE, count on the sparsified graph, scale by 1/p³),
    * the 100 TB twin of O2's exact count: at web scale the edge list
    * itself is the bottleneck and DOULION shrinks it BEFORE any
    * wedge work, with an unbiased estimator and variance that decays
    * with the triangle count. Made hash-exact end to end (the house
    * determinism discipline): the "coin" is the first hex char of
    * md5(src:dst) ≤ a threshold — deterministic per edge, identical
    * in both engines — and p is restricted to 1/2 or 1/4 (hex-char
    * prefixes) so 1/p³ is the exact INTEGER 8 or 64: the estimate is
    * integer arithmetic, no float anywhere. Serves the one-row
    * audit: edge counts, exact total (the [[orientedWithAdj]] oriented
    * count — itself oracle-proven against the naive 3-way join),
    * sampled total, the blown-up estimate, and the realized relative
    * error in exact half-up micro-units (the L27 BIGINT-micro rule).
    * Scale: the exact side is O2's O(m^1.5) wedge bound; the sampled
    * side runs the identical plan on a p-fraction edge list (the
    * whole point); everything after is 1-row attaches. */
  def trianglesSampled(spark: SparkSession, dir: String,
                       minSupport: Int = 1, keepHexMax: Int = 7): DataFrame = {
    require(keepHexMax == 7 || keepHexMax == 3,
      s"keepHexMax must be 7 (p=1/2) or 3 (p=1/4), got $keepHexMax")
    val mult = { val p16 = 16L / (keepHexMax + 1); p16 * p16 * p16 }
    val hexCap = "%x".format(keepHexMax)
    val canon = canonicalEdges(spark, dir, minSupport)
    val kept = canon.filter(substring(md5(concat(
      col("src").cast("string"), lit(":"), col("dst").cast("string"))),
      1, 1) <= lit(hexCap))
    val nE = canon.agg(count(lit(1)).as("n_edges"))
    val nK = kept.agg(count(lit(1)).as("n_kept"))
    // ONE oriented pass serves BOTH counts: a triangle of the
    // sparsified graph is exactly a full-graph triangle whose three
    // edge-coins all keep, so the sampled total is computed by
    // MARKING inside the same map-side closure instead of building a
    // second adjacency (measured 14.5 s → one O2-shaped pass at
    // sf0.1). A production DOULION that doesn't need the truth column
    // runs the kept-edge subtree alone — that is the scale path; the
    // exact side here is the eval's ground truth by design.
    val keepW = (a: String) => // coin of the canonical (x, w) edge
      s"substring(md5(concat(cast(least($a, w) as string), ':', " +
        s"cast(greatest($a, w) as string))), 1, 1) <= '$hexCap'"
    val exactAndSampled = orientedWithAdj(spark, dir, minSupport)
      .select(
        expr("size(ws)").cast("long").as("t"),
        when(substring(md5(concat(least(col("u"), col("v")).cast("string"),
          lit(":"), greatest(col("u"), col("v")).cast("string"))), 1, 1)
          <= lit(hexCap),
          expr(s"size(filter(ws, w -> ${keepW("u")} and ${keepW("v")}))")
            .cast("long")).otherwise(0L).as("ts"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("exact_triangles"),
        coalesce(sum(col("ts")), lit(0L)).as("sampled_triangles"))
    nE.crossJoin(broadcast(nK))
      .crossJoin(broadcast(exactAndSampled))
      .select(col("n_edges"), col("n_kept"), col("exact_triangles"),
        col("sampled_triangles"),
        (col("sampled_triangles") * mult).as("estimated_triangles"),
        abs(col("sampled_triangles") * mult - col("exact_triangles"))
          .as("abs_err"),
        when(col("exact_triangles") === 0, lit(null).cast("long"))
          .otherwise(expr(s"(abs(sampled_triangles * $mult - " +
            "exact_triangles) * 2000000 + exact_triangles) div " +
            "(exact_triangles * 2)")).as("rel_err_micro"))
  }

  def trianglesSampledSql(minSupport: Int = 1, keepHexMax: Int = 7): String = {
    val mult = { val p16 = 16L / (keepHexMax + 1); p16 * p16 * p16 }
    val hexCap = "%x".format(keepHexMax)
    s"""WITH ${pairsSqlCte.format(minSupport)},
       |kept AS (
       |  SELECT src, dst FROM pairs
       |  WHERE substr(md5(CAST(src AS VARCHAR) || ':'
       |    || CAST(dst AS VARCHAR)), 1, 1) <= '$hexCap'),
       |tfull AS (
       |  SELECT COUNT(*) AS exact_triangles
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.src = e1.dst
       |  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |tsamp AS (
       |  SELECT COUNT(*) AS sampled_triangles
       |  FROM kept e1
       |  JOIN kept e2 ON e2.src = e1.dst
       |  JOIN kept e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |ne AS (SELECT COUNT(*) AS n_edges FROM pairs),
       |nk AS (SELECT COUNT(*) AS n_kept FROM kept)
       |SELECT n_edges, n_kept, exact_triangles, sampled_triangles,
       |  CAST(sampled_triangles * $mult AS BIGINT) AS estimated_triangles,
       |  CAST(ABS(sampled_triangles * $mult - exact_triangles) AS BIGINT)
       |    AS abs_err,
       |  CASE WHEN exact_triangles = 0 THEN NULL
       |    ELSE CAST((ABS(sampled_triangles * $mult - exact_triangles)
       |      * 2000000 + exact_triangles)
       |      // (exact_triangles * 2) AS BIGINT) END AS rel_err_micro
       |FROM ne, nk, tfull, tsamp""".stripMargin
  }

  def trianglesSql(minSupport: Int = 1, limit: Int = 100): String =
    s"""WITH ${pairsSqlCte.format(minSupport)},
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.src = e1.dst
       |  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT a AS part FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT part, COUNT(*) AS n_triangles FROM corners GROUP BY 1
       |ORDER BY n_triangles DESC, part LIMIT $limit""".stripMargin

  /** O3 `graph_bfs` — multi-hop reachability (min-hop BFS) from a
    * seed set (all parts of one brand) over the co-purchase graph:
    * the "related items within k hops" expansion behind candidate
    * retrieval, served as the per-level rollup (hops, n_nodes,
    * sum_part — the checksum pins WHICH nodes each level holds, not
    * just how many).
    *
    * Level-synchronous frontier expansion: visited and frontier are
    * node-keyed; each hop is one frontier⋈edges equi join, a
    * distinct, and an anti join against visited — all on the node
    * key, no broadcast of anything unbounded. Hop count is a fixed
    * small constant (the oracle unrolls the same levels), so the
    * loop is `maxHops` stages, not a convergence test. */
  /** Memoized per-level BFS frontiers. Iterative BFS is the one
    * shape where the DataFrame-constructor-stays-plan-only rule must
    * bend (as for Dedup's memoized bloom bytes): level k's plan embeds both
    * the previous frontier AND the whole visited union, so the
    * logical plan DOUBLES per hop and Catalyst re-analyzes the
    * exponential tree on every action (measured 14–24 s of pure
    * planning for 4 hops at sf0.1). Each level is therefore cut to a
    * leaf with an eager localCheckpoint — a real job per level, run
    * ONCE per (session, dir, params, mtime) and memoized, exactly
    * like the bloom/IVF build jobs; re-serving or explaining the
    * query afterwards launches nothing. */
  def bfs(spark: SparkSession, dir: String, brand: String = "Brand#1",
          minSupport: Int = 1, maxHops: Int = 3): DataFrame = {
    // BOTH source mtimes: edges come from lineitem, seeds from part —
    // regenerating part.parquet alone must invalidate the memo too
    val key = s"graph:$dir:bfs:$brand:" +
      s"$minSupport:$maxHops"
    val visited = Memo.checkpointed(spark, key, seededSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val nodes = e.select(col("src").as("node")).distinct()
      val seeds = Tables.part(spark, dir)
        .filter(col("p_brand") === brand)
        .select(col("p_partkey").as("node"))
        .join(nodes, "node") // seed must exist in the graph
        .select(col("node"), lit(0).as("hops"))
        .cutLineage()
      var acc = seeds
      var frontier = seeds.select(col("node"))
      for (h <- 1 to maxHops) {
        val next = e.join(frontier, e("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .join(acc.select(col("node").as("vn")),
            col("node") === col("vn"), "left_anti")
          .cutLineage()
        frontier = next
        acc = acc.union(next.select(col("node"), lit(h).as("hops")))
      }
      acc // a union over one checkpoint leaf per level — all retained
    }
    visited.groupBy(col("hops"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_part"))
      .orderBy(col("hops"))
  }

  def bfsSql(brand: String = "Brand#1", minSupport: Int = 1,
             maxHops: Int = 3): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |h0 AS (SELECT p.p_partkey AS node, 0 AS hops FROM part p
         |       JOIN gnodes g ON g.node = p.p_partkey
         |       WHERE p.p_brand = '$brand'),
         |v0 AS (SELECT node, hops FROM h0)""".stripMargin
    val steps = (1 to maxHops).map { i =>
      s"""h$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node, $i AS hops
         |  FROM edges e JOIN h${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS MATERIALIZED (SELECT node, hops FROM v${i - 1}
         |        UNION ALL SELECT node, hops FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT hops, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS sum_part
       |FROM v$maxHops GROUP BY 1 ORDER BY hops""".stripMargin
  }

  /** O4 `graph_components` — weakly-connected components over the
    * co-purchase graph (the community grouping behind G6's dedup
    * clusters, here as a served graph primitive): iterate
    * l'(v) = min( min_{u ∈ N(v) ∪ {v}} l(u), l(l(v)) ) — neighbor
    * min-label propagation PLUS pointer jumping (the l(l(v)) hop,
    * label-table self-join), which contracts label chains toward
    * O(log n) rounds where plain propagation needs O(diameter)
    * (measured on this graph: 11 rounds plain, 8 with jumping; 10
    * fixed rounds serve converged labels at every test SF, and the
    * spec proves the fixed point against driver union-find). Both
    * engines run EXACTLY `iters` rounds of the same recurrence, so
    * labels hash-match round for round; the oracle unrolls them as
    * CTEs. Each round: one aug-edges⋈labels rollup + one label⋈label
    * pointer join, all node-keyed; per-round lineage cut like BFS
    * (the recurrence references the label table three times). Serve:
    * per-component size + id-sum checksum, largest first. */
  def connectedComponents(spark: SparkSession, dir: String,
                          minSupport: Int = 2, iters: Int = 10,
                          limit: Int = 50): DataFrame = {
    val key = s"graph:$dir:cc:$minSupport:$iters"
    val labels = Memo.checkpointed(spark, key, lineitemSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val nodes = e.select(col("src").as("node")).distinct()
      val aug = e.union(nodes.select(col("node").as("src"),
        col("node").as("dst")))
      Ckpt.rounds(nodes.select(col("node"), col("node").as("label")),
          iters) { (lab, _) =>
        val nbrMin = aug.join(lab, aug("src") === lab("node"))
          .groupBy(col("dst")).agg(min(col("label")).as("nm"))
          .withColumnRenamed("dst", "node")
        val ptr = lab.join(
            lab.select(col("node").as("pnode"), col("label").as("plabel")),
            col("label") === col("pnode"))
          .select(col("node").as("jnode"), col("plabel"))
        nbrMin.join(ptr, col("node") === col("jnode"))
          .select(col("node"), least(col("nm"), col("plabel")).as("label"))
      }
    }
    labels.groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_part"))
      .orderBy(col("n_nodes").desc, col("component"))
      .limit(limit)
  }

  def connectedComponentsSql(minSupport: Int = 2, iters: Int = 10,
                             limit: Int = 50): String = {
    // AS MATERIALIZED: every round references the previous label CTE
    // THREE times; DuckDB inlines multiply-referenced CTEs, so an
    // unrolled 10-round chain re-expands the whole prefix per
    // reference (3^10 plan copies — the oracle never finishes).
    // Materializing each round is the oracle-side analogue of the
    // Spark side's per-round localCheckpoint.
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |aug AS MATERIALIZED (SELECT src, dst FROM edges
         |        UNION ALL SELECT node, node FROM gnodes),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM gnodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT nm.node, LEAST(nm.nm, p.plabel) AS label
         |  FROM (SELECT a.dst AS node, MIN(l.label) AS nm
         |        FROM aug a JOIN l${i - 1} l ON a.src = l.node
         |        GROUP BY 1) nm
         |  JOIN (SELECT l.node, l2.label AS plabel
         |        FROM l${i - 1} l JOIN l${i - 1} l2 ON l.label = l2.node) p
         |    ON nm.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT label AS component, COUNT(*) AS n_nodes,
       |  CAST(SUM(node) AS BIGINT) AS sum_part
       |FROM l$iters GROUP BY 1
       |ORDER BY n_nodes DESC, component LIMIT $limit""".stripMargin
  }

  /** O10 `graph_communities_lpa` — community detection by
    * synchronous LABEL PROPAGATION (Raghavan et al. 2007, the
    * near-linear-time community algorithm): seed every node with its
    * own id; each round, every node adopts the MODE of its
    * neighbors' labels. Unlike O4's min-propagation (which converges
    * to connected components), the mode update stops at community
    * boundaries — a node keeps its side's majority label even when a
    * few cross-community edges exist, so dense co-purchase pockets
    * get distinct labels inside one component. Determinism: classic
    * LPA tie-breaks randomly; here ties break (count DESC, label
    * ASC) via row_number in BOTH engines, and both run exactly
    * `iters` synchronous rounds, so labels hash-match round for
    * round (the serve is "labels after T rounds", not a fixed-point
    * claim — LPA famously oscillates under synchronous update, which
    * a fixed round count sidesteps deterministically). Serve:
    * per-community size + id-sum checksum, largest first.
    * Scale: each round is ONE edges⋈labels src-keyed join and ONE
    * (node, label)-keyed mode rollup — label-propagation economics
    * identical to O4; adjacency comes from the shared cached pair
    * build, per-round lineage cut by [[Ckpt.rounds]]. */
  def communitiesLpa(spark: SparkSession, dir: String,
                     minSupport: Int = 2, iters: Int = 3,
                     limit: Int = 50): DataFrame = {
    val key = s"graph:$dir:lpa:$minSupport:$iters"
    val labels = Memo.checkpointed(spark, key, lineitemSrc(dir)) {
      val e = directedEdges(spark, dir, minSupport)
      val nodes = e.select(col("src").as("node")).distinct()
      val wMode = Window.partitionBy(col("node"))
        .orderBy(col("cnt").desc, col("label"))
      Ckpt.rounds(nodes.select(col("node"), col("node").as("label")),
          iters) { (lab, _) =>
        e.join(lab.withColumnRenamed("node", "lnode"),
            e("src") === col("lnode"))
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wMode))
          .filter(col("rn") === 1)
          .select(col("node"), col("label"))
      }
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_part"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(limit)
  }

  def communitiesLpaSql(minSupport: Int = 2, iters: Int = 3,
                        limit: Int = 50): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM gnodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, COUNT(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY 1, 2)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT label AS community, COUNT(*) AS n_nodes,
       |  CAST(SUM(node) AS BIGINT) AS sum_part
       |FROM l$iters GROUP BY 1
       |ORDER BY n_nodes DESC, community LIMIT $limit""".stripMargin
  }

  /** O5 `graph_ppr` — PERSONALIZED PageRank: teleport mass restarts
    * at a seed set (one brand's parts — O3's seeds) instead of
    * uniformly, giving "importance relative to these products" — the
    * related-item ranker behind seeded recommendation retrieval
    * (vs O1's global importance). Same BIGINT fixed-point recurrence
    * as O1 with the teleport term gated on seed membership:
    * r0 = SCALE·[v ∈ S], r' = [v ∈ S]·0.15·SCALE +
    * (85 · Σ_u floor(r_u / deg_u)) div 100 — engine-exact, no float
    * order sensitivity. Non-seed nodes unreached by any path hold
    * rank 0 and are filtered from the serve (rank > 0), so the
    * result is the seed community ranked by proximity-weighted mass.
    *
    * Scale: identical economics to O1 (the same scoped adjacency;
    * each round ONE src-keyed join + ONE dst-keyed partial agg + a
    * broadcast seed-flag attach); the seed table is a brand slice —
    * bounded, broadcast. Deep-iters safety via the same per-round
    * cuts. */
  def personalizedPagerank(spark: SparkSession, dir: String,
                           brand: String = "Brand#1", minSupport: Int = 1,
                           iters: Int = 5, limit: Int = 100): DataFrame = {
    val key = s"graph:$dir:ppr:$brand:" +
      s"$minSupport:$iters"
    val ranksFinal = Memo.checkpointed(spark, key, seededSrc(dir)) {
      val seeds = Tables.part(spark, dir)
        .filter(col("p_brand") === brand)
        .select(col("p_partkey").as("node"), lit(1).as("is_seed"))
      // `mass` on the seeds, 0 elsewhere
      def onSeeds(mass: Long): Column =
        when(col("is_seed") === 1, lit(mass)).otherwise(lit(0L))
      val (adj, deg) = rankAdjacency(spark, dir, minSupport)
      rankRounds(adj, deg.select(col("node"))
          .join(broadcast(seeds), Seq("node"), "left")
          .select(col("node"), onSeeds(Scale).cast("long").as("rank")),
          iters, "rank div d")(
        _.join(broadcast(seeds), Seq("node"), "left")
          .select(col("node"),
            (onSeeds(15L * Scale / 100) + col("m")).cast("long").as("rank")))
    }
    ranksFinal.filter(col("rank") > 0)
      .select(col("node").as("part"), col("rank").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part"))
      .limit(limit)
  }

  def personalizedPagerankSql(brand: String = "Brand#1",
                              minSupport: Int = 1, iters: Int = 5,
                              limit: Int = 100): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
         |adj AS MATERIALIZED (SELECT e.src, e.dst, d.d FROM edges e
         |        JOIN deg d ON e.src = d.node),
         |seeds AS (SELECT p_partkey AS node, 1 AS is_seed FROM part
         |          WHERE p_brand = '$brand'),
         |r0 AS (SELECT deg.node,
         |         CAST(CASE WHEN s.is_seed = 1 THEN $Scale ELSE 0 END
         |              AS BIGINT) AS rank
         |       FROM deg LEFT JOIN seeds s ON deg.node = s.node)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT m.node,
         |    CAST(CASE WHEN s.is_seed = 1 THEN ${15L * Scale / 100}
         |         ELSE 0 END + m.m AS BIGINT) AS rank
         |  FROM (SELECT a.dst AS node, (85 * SUM(r.rank // a.d)) // 100 AS m
         |        FROM adj a JOIN r${i - 1} r ON a.src = r.node
         |        GROUP BY 1) m
         |  LEFT JOIN seeds s ON m.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT node AS part, rank AS rank_fp FROM r$iters WHERE rank > 0
       |ORDER BY rank_fp DESC, part LIMIT $limit""".stripMargin
  }

  /** O6 `graph_clustering_coef` — local clustering coefficient per
    * node: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) over nodes with
    * deg ≥ 2 — O2's triangle counts normalized by the neighborhood's
    * possible edges, the standard community-density score (a part
    * whose co-purchase neighbors also co-purchase each other anchors
    * a coherent basket theme; a hub with cc≈0 is a generic staple).
    *
    * Exactness: T and deg are exact integers; the one division is
    * exact-int → double, bit-identical cross-engine (I-family rule).
    * Scale: same compact-forward subtree as O2 (wedge work bounded
    * O(m^1.5), no wedge table materialized) + one node-keyed join
    * against the degree rollup. Serve: coefficient desc (then part)
    * over triangle-bearing nodes, top-k. */
  def clusteringCoefficient(spark: SparkSession, dir: String,
                            minSupport: Int = 1, limit: Int = 100): DataFrame = {
    val e = directedEdges(spark, dir, minSupport)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "node")
    // the shared cached closure (O2/O14's seam) — O6 only explodes it
    val tris = orientedWithAdj(spark, dir, minSupport)
      .select(col("u"), col("v"), explode(col("ws")).as("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("d") >= 2)
      .join(perNode, Seq("node"))
      .select(col("node").as("part"), col("d").as("degree"),
        col("n_triangles"),
        ((lit(2L) * col("n_triangles")).cast("double") /
          (col("d") * (col("d") - 1)).cast("double")).as("clustering_coef"))
      .orderBy(col("clustering_coef").desc, col("part"))
      .limit(limit)
  }

  def clusteringCoefficientSql(minSupport: Int = 1,
                               limit: Int = 100): String =
    s"""WITH ${pairsSqlCte.format(minSupport)},
       |$edgesSqlCte,
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.src = e1.dst
       |  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |pn AS (SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY 1)
       |SELECT deg.node AS part, deg.d AS degree, pn.n_triangles,
       |  CAST(2 * pn.n_triangles AS DOUBLE)
       |    / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS clustering_coef
       |FROM deg JOIN pn ON deg.node = pn.node
       |WHERE deg.d >= 2
       |ORDER BY clustering_coef DESC, part LIMIT $limit""".stripMargin

  /** O7 `graph_link_prediction` — common-neighbors + Adamic–Adar
    * link prediction over the co-purchase graph: for each
    * NON-adjacent pair (u, v), cn = |N(u) ∩ N(v)| and
    * aa = Σ_{w ∈ N(u) ∩ N(v)} 1/ln(deg w) — the classic "products
    * likely to be bought together next" ranker (Liben-Nowell &
    * Kleinberg CIKM'03), i.e. the candidate generator for the edges
    * O1/O5 then rank. AA is served in BIGINT fixed-point: each
    * center's contribution is round(1e9 / ln(deg_w)) — ONE libm call
    * rounded to the integer grain (~1e-9) far above libm's last-ulp
    * (~1e-16) — then summed as exact integers, so the score
    * hash-matches cross-engine (the I-family round-then-integer-sum
    * rule; float SUM order sensitivity never arises).
    *
    * Scale: wedges are generated at their CENTER w (both score
    * definitions sum over centers), which is O(Σ deg(w)²) — hub-
    * quadratic — so centers with deg > `maxDeg` are EXCLUDED, the
    * standard production capping: a super-hub's AA contribution is
    * 1/ln(huge) ≈ noise and common-neighbor counts through staples
    * carry no signal, while the cap bounds per-center fan-out at
    * maxDeg² regardless of skew (same economics as O2's orientation
    * bound). Pipeline: one center-keyed collect of the ≤maxDeg
    * sorted neighbor list, map-side pair explode (K30's expansion),
    * one (u,v)-keyed rollup, one anti join against the edge list
    * (candidates must be non-adjacent) — all keyed shuffles, nothing
    * unbounded broadcast. The oracle states the same capped sum as a
    * wedge self-join; hash equality proves the explode path exact. */
  def linkPrediction(spark: SparkSession, dir: String, minSupport: Int = 2,
                     maxDeg: Int = 64, limit: Int = 100): DataFrame = {
    val e = directedEdges(spark, dir, minSupport)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "node")
    // per-center sorted neighbor list, hub-capped BEFORE the collect
    // so no task ever materializes a super-hub's adjacency
    val nbrs = e.join(deg, e("src") === deg("node"))
      .filter(col("d") <= maxDeg)
      .groupBy(col("src"), col("d"))
      .agg(sort_array(collect_set(col("dst"))).as("ns"))
      .select(col("d"),
        explode(expr(
          """flatten(transform(ns, (x, i) ->
            |  transform(slice(ns, i + 2, size(ns)),
            |            y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"),
        expr("CAST(ROUND(1e9 / LN(CAST(d AS DOUBLE))) AS BIGINT)").as("w_aa"))
    val scored = nbrs.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("w_aa")).as("aa_fp"))
    scored.join(canonicalEdges(spark, dir, minSupport)
        .select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_fp").desc, col("u"), col("v"))
      .limit(limit)
  }

  def linkPredictionSql(minSupport: Int = 2, maxDeg: Int = 64,
                        limit: Int = 100): String =
    s"""WITH ${pairsSqlCte.format(minSupport)},
       |$edgesSqlCte,
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
       |wedge AS (
       |  SELECT e1.dst AS u, e2.dst AS v,
       |    CAST(ROUND(1e9 / LN(CAST(d.d AS DOUBLE))) AS BIGINT) AS w_aa
       |  FROM edges e1
       |  JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN deg d ON d.node = e1.src
       |  WHERE d.d <= $maxDeg),
       |scored AS (
       |  SELECT u, v, COUNT(*) AS cn, CAST(SUM(w_aa) AS BIGINT) AS aa_fp
       |  FROM wedge GROUP BY 1, 2)
       |SELECT s.u, s.v, s.cn, s.aa_fp FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                  WHERE p.src = s.u AND p.dst = s.v)
       |ORDER BY aa_fp DESC, u, v LIMIT $limit""".stripMargin

  /** O8 `graph_degree_dist` — degree distribution + power-law tail
    * fit: the graph's ANALYZE pass (N7's discipline applied to the
    * co-purchase graph). Serves the degree histogram with the exact
    * CCDF P(D ≥ d) — the log-log line whose straightness IS the
    * power-law diagnostic — and the Clauset-style continuous-MLE
    * exponent α̂ = 1 + n_tail / Σ_{d ≥ xmin} n_d·ln(d/(xmin−½))
    * attached to every row (the skew number that tells an operator
    * whether salting/orientation tricks are mandatory on this graph).
    *
    * Exactness: counts exact BIGINT; each distinct degree's ln is ONE
    * libm call rounded 9 dp → DECIMAL(18,9) — NOT (28,9): the weight
    * multiply against a BIGINT count at (28,9) exceeds precision 38
    * and Spark's precision-loss adjustment silently cuts the product
    * scale to 6 dp, diverging from any exact engine at ~1e-6 per
    * term; (18,9)×(10,0) stays inside 38 digits and is exact —
    * weighted by the exact integer n_d and summed as decimal
    * (order-insensitive, the I-family round-then-decimal-sum rule);
    * CCDF and α̂ are single divisions of exact quantities.
    *
    * Scale: degree rollup is one node-keyed shuffle; EVERYTHING after
    * (CCDF cumulative, totals, tail fit) runs as window aggregates in
    * one pass over the HISTOGRAM (≤ max-degree rows, metadata-scale —
    * the only onePart window, one Window node since all frames share
    * the partitioning+ordering) — no second scan of the edge table,
    * no crossJoin attach branches. */
  def degreeDist(spark: SparkSession, dir: String, minSupport: Int = 1,
                 xmin: Int = 2): DataFrame = {
    val e = directedEdges(spark, dir, minSupport)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    // histogram is metadata-scale: cumulative + totals + the MLE tail
    // fit all ride the same single-partition window, so the whole
    // post-rollup computation is one pass with zero extra branches
    val part = Window.partitionBy(Obs.onePart(col("degree")))
    val wTail = part.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = part.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val inTail = col("degree") >= xmin
    val wlog = when(inTail, col("n_nodes").cast("decimal(10,0)") * expr(
      s"CAST(ROUND(LN(CAST(degree AS DOUBLE) / ${xmin - 0.5}), 9) " +
        "AS DECIMAL(18,9))"))
    hist.select(col("degree"), col("n_nodes"),
        sum(col("n_nodes")).over(wTail).as("n_geq"),
        sum(col("n_nodes")).over(wAll).as("n_total"),
        sum(when(inTail, col("n_nodes"))).over(wAll).as("n_tail"),
        sum(wlog).over(wAll).as("logsum"))
      .select(col("degree"), col("n_nodes"),
        (col("n_geq").cast("double") / col("n_total").cast("double"))
          .as("ccdf"),
        col("n_tail"),
        (lit(1.0) + col("n_tail").cast("double") /
          col("logsum").cast("double")).as("alpha_hat"))
      .orderBy(col("degree"))
  }

  def degreeDistSql(minSupport: Int = 1, xmin: Int = 2): String =
    s"""WITH ${pairsSqlCte.format(minSupport)},
       |$edgesSqlCte,
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |hist AS (SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1),
       |w AS (
       |  SELECT degree, n_nodes,
       |    CAST(SUM(n_nodes) OVER (ORDER BY degree DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_geq,
       |    CAST(SUM(n_nodes) OVER () AS BIGINT) AS n_total,
       |    CAST(SUM(CASE WHEN degree >= $xmin THEN n_nodes END) OVER ()
       |      AS BIGINT) AS n_tail,
       |    SUM(CASE WHEN degree >= $xmin THEN
       |      CAST(n_nodes AS DECIMAL(10,0)) *
       |      CAST(ROUND(LN(CAST(degree AS DOUBLE) / ${xmin - 0.5}), 9)
       |        AS DECIMAL(18,9)) END) OVER () AS logsum
       |  FROM hist)
       |SELECT degree, n_nodes,
       |  CAST(n_geq AS DOUBLE) / CAST(n_total AS DOUBLE) AS ccdf,
       |  n_tail,
       |  1.0 + CAST(n_tail AS DOUBLE) / CAST(logsum AS DOUBLE) AS alpha_hat
       |FROM w
       |ORDER BY degree""".stripMargin

  /** O9 `graph_kcore` — k-core decomposition by iterative peeling:
    * repeatedly delete nodes of degree < k (each deletion lowers its
    * neighbors' degrees) until the fixed point — the maximal subgraph
    * where every node keeps ≥ k neighbors. The production graph-
    * cleanup primitive: the k-core is the "dense interior" that
    * survives spam/long-tail pruning (a part in the 3-core belongs to
    * a real basket community; degree alone can't tell — a deg-5 node
    * whose neighbors all peel away is tail, not community). Serve:
    * surviving nodes with their IN-CORE degree (≥ k by the fixed
    * point), top-k deterministic.
    *
    * Exactness: pure integer set/count recurrence; both engines run
    * EXACTLY `rounds` peels of the same rule, so the edge set matches
    * round for round regardless of whether the fixed point has been
    * reached (the spec separately proves `rounds` suffices by
    * replaying peeling to TRUE convergence on the driver — O4's
    * fixed-rounds discipline). The oracle unrolls the rounds as
    * MATERIALIZED CTEs.
    *
    * Scale: each round is one node-keyed degree rollup + two keyed
    * semijoins of the edge list against the survivor set — never a
    * broadcast of anything unbounded; [[Ckpt.rounds]] cuts each round
    * exactly like O1/O4 (each round references the
    * previous edge table three times). Peeling removes in waves, so
    * real graphs converge in few rounds; a pathological chain peels
    * one layer per round, which the convergence spec would catch at
    * the tested SFs. */
  def kcore(spark: SparkSession, dir: String, minSupport: Int = 1,
            k: Int = 3, rounds: Int = 8, limit: Int = 100): DataFrame = {
    val key = s"graph:$dir:kcore:" +
      s"$minSupport:$k:$rounds"
    val alive = Memo.checkpointed(spark, key, lineitemSrc(dir)) {
      Ckpt.rounds(directedEdges(spark, dir, minSupport), rounds) { (a, _) =>
        val keep = a.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("node"))
        a.join(keep.select(col("node").as("ks")), col("src") === col("ks"))
          .drop("ks")
          .join(keep.select(col("node").as("kd")), col("dst") === col("kd"))
          .drop("kd")
      }
    }
    alive.groupBy(col("src").as("part"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("core_degree").desc, col("part"))
      .limit(limit)
  }

  def kcoreSql(minSupport: Int = 1, k: Int = 3, rounds: Int = 8,
               limit: Int = 100): String = {
    val base =
      s"""WITH ${pairsSqlCte.format(minSupport)},
         |$edgesSqlCte,
         |a0 AS MATERIALIZED (SELECT src, dst FROM edges)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src AS node FROM a${i - 1}
         |      GROUP BY 1 HAVING COUNT(*) >= $k),
         |a$i AS MATERIALIZED (SELECT a.src, a.dst FROM a${i - 1} a
         |      JOIN k$i u ON a.src = u.node
         |      JOIN k$i v ON a.dst = v.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT src AS part, COUNT(*) AS core_degree FROM a$rounds
       |GROUP BY 1 ORDER BY core_degree DESC, part LIMIT $limit""".stripMargin
  }

  val registry: Seq[(String, Entry)] = Seq(
    "graph_kcore" -> Entry((s, d) => kcore(s, d), kcoreSql(), graph = true, shuffles = 2),
    "param_graph_kcore" -> Entry((s, d) => kcore(s, d,
      minSupport = 2, k = 2, rounds = 6, limit = 50),
      kcoreSql(minSupport = 2, k = 2, rounds = 6, limit = 50), graph = true, shuffles = 2),
    "graph_degree_dist" -> Entry((s, d) => degreeDist(s, d), degreeDistSql(), graph = true,
      shuffles = 5, // node-keyed degree rollup; histogram rollup + metadata window/fit attaches
      bnlj = true), // (b) 1-row total + 1-row fit attach
    "param_graph_degree_dist" -> Entry((s, d) => degreeDist(s, d, minSupport = 2, xmin = 3),
      degreeDistSql(minSupport = 2, xmin = 3), graph = true, shuffles = 5,
      bnlj = true), // (b) 1-row total + 1-row fit attach
    "graph_link_prediction" -> Entry((s, d) => linkPrediction(s, d), linkPredictionSql(),
      graph = true,
      shuffles = 6), // nbr-list collect + wedge rollup + anti join (edges cached)
    "param_graph_link_prediction" -> Entry((s, d) => linkPrediction(s, d,
      minSupport = 2, maxDeg = 16, limit = 50),
      linkPredictionSql(minSupport = 2, maxDeg = 16, limit = 50), graph = true, shuffles = 6),
    "graph_components" -> Entry((s, d) => connectedComponents(s, d), connectedComponentsSql(),
      graph = true, shuffles = 2),
    "graph_communities_lpa" -> Entry((s, d) => communitiesLpa(s, d), communitiesLpaSql(),
      graph = true, shuffles = 2),
    "param_communities_lpa" -> Entry((s, d) => communitiesLpa(s, d, minSupport = 3, iters = 2),
      communitiesLpaSql(minSupport = 3, iters = 2), shuffles = 2),
    "param_graph_components" -> Entry((s, d) => connectedComponents(s, d,
      minSupport = 3, iters = 6, limit = 20),
      connectedComponentsSql(minSupport = 3, iters = 6, limit = 20), graph = true, shuffles = 2),
    // O-family: iterative graph algorithms pay one join + one agg
    // exchange PER ITERATION by nature (Pregel supersteps); the edge
    // build adds K30's two. Budgets pin today's per-iteration cost so
    // an extra shuffle inside the loop multiplies and fails loudly.
    "graph_pagerank" -> Entry((s, d) => pagerank(s, d), pagerankSql(), graph = true,
      shuffles = 9), // edges(2) + deg/adj + 5×(rank agg; join rides adj exchange) + TakeOrdered
    "graph_triangles" -> Entry((s, d) => triangles(s, d), trianglesSql(), graph = true,
      shuffles = 4), // edges(2) + deg attach + corner-explode rollup (wedge/closure joins broadcast at this SF)
    "graph_triangles_sampled" -> Entry((s, d) => trianglesSampled(s, d), trianglesSampledSql(),
      graph = true,
      shuffles = 14, // two full O2-shaped triangle totals (degree agg + 2 adjacency attaches + orient, x full & sampled)
      bnlj = true), // (b) four 1-row count/total attaches onto the single report row
    "param_graph_triangles_sampled" -> Entry((s, d) => trianglesSampled(s, d, minSupport = 2),
      trianglesSampledSql(minSupport = 2), graph = true, shuffles = 14,
      bnlj = true), // (b) four 1-row count/total attaches onto the single report row
    "graph_bfs" -> Entry((s, d) => bfs(s, d), bfsSql(), graph = true,
      shuffles = 8), // edges(2) + seeds∩nodes + 3×(frontier distinct + anti-join) rides
    "graph_closeness" -> Entry((s, d) => closeness(s, d), closenessSql(), graph = true,
      shuffles = 2),
    "graph_betweenness" -> Entry((s, d) => betweenness(s, d), betweennessSql(), graph = true,
      shuffles = 2),
    "param_graph_betweenness" -> Entry((s, d) => betweenness(s, d,
      brand = "Brand#2", nSeeds = 5, maxHops = 2, limit = 50),
      betweennessSql(brand = "Brand#2", nSeeds = 5, maxHops = 2, limit = 50), graph = true,
      shuffles = 2),
    "graph_closeness_hyperball" -> Entry((s, d) => closenessHyperball(s, d),
      closenessHyperballSql(), graph = true,
      shuffles = 6), // per-radius exact-ball rollups over the BFS leaf + band rollup + O11 serve rollup + ordered join (sketch iteration is a checkpoint leaf)
    "graph_eff_diameter" -> Entry((s, d) => effDiameter(s, d), effDiameterSql(), graph = true,
      shuffles = 5), // stacked N(t) agg + per-seed balls agg + band rollup + two single-partition windows — all over the memoized BFS leaf / maxHops-row frames
    "param_graph_eff_diameter" -> Entry((s, d) => effDiameter(s, d, brand = "Brand#7", qBp = 7500),
      effDiameterSql(brand = "Brand#7", qBp = 7500), graph = true, shuffles = 5),
    "param_closeness_hyperball" -> Entry((s, d) =>
      closenessHyperball(s, d, brand = "Brand#2", nSeeds = 5, maxHops = 2),
      closenessHyperballSql(brand = "Brand#2", nSeeds = 5, maxHops = 2), shuffles = 6),
    "param_graph_closeness" -> Entry((s, d) => closeness(s, d,
      brand = "Brand#2", nSeeds = 5, maxHops = 2),
      closenessSql(brand = "Brand#2", nSeeds = 5, maxHops = 2), graph = true, shuffles = 2),
    // iters=20 deliberately DEEP: proves the per-round lineage cut
    // (plan analysis stays linear, not quadratic, in iteration count)
    "param_graph_pagerank" -> Entry((s, d) => pagerank(s, d,
      minSupport = 2, iters = 20, limit = 40),
      pagerankSql(minSupport = 2, iters = 20, limit = 40), graph = true,
      shuffles = 7), // 3 iterations
    "param_graph_triangles" -> Entry((s, d) => triangles(s, d, minSupport = 2, limit = 50),
      trianglesSql(minSupport = 2, limit = 50), graph = true, shuffles = 4),
    "param_graph_bfs" -> Entry((s, d) => bfs(s, d, brand = "Brand#7", minSupport = 2, maxHops = 4),
      bfsSql(brand = "Brand#7", minSupport = 2, maxHops = 4), graph = true,
      shuffles = 9), // 4 hops
    "graph_ppr" -> Entry((s, d) => personalizedPagerank(s, d), personalizedPagerankSql(),
      graph = true, shuffles = 2),
    "param_graph_ppr" -> Entry((s, d) => personalizedPagerank(s, d,
      brand = "Brand#7", minSupport = 2, iters = 8, limit = 40),
      personalizedPagerankSql(brand = "Brand#7", minSupport = 2, iters = 8, limit = 40),
      graph = true, shuffles = 2),
    "graph_clustering_coef" -> Entry((s, d) => clusteringCoefficient(s, d),
      clusteringCoefficientSql(), graph = true,
      shuffles = 4), // O2's compact-forward subtree + degree join + corner rollup
    "param_graph_clustering_coef" -> Entry((s, d) => clusteringCoefficient(s, d,
      minSupport = 2, limit = 50),
      clusteringCoefficientSql(minSupport = 2, limit = 50), graph = true, shuffles = 4))
}
