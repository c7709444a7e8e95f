package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Entry, Memo, Registered, Tables}
import graft.Ckpt.CutOps
import graft.functions.VectorOps._
import graft.functions.VectorExpressions.vdotQuantizedNative

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2.H). ALL queries run on the integer-quantized
  * representation (round(x*1e4) as long): integer dot products are
  * exact, and cosine derived as `dot / (sqrt(nsq_a) * sqrt(nsq_b))`
  * is a fixed sequence of IEEE-exact double ops on integer inputs —
  * bit-identical in Spark and DuckDB, which is what lets H2-H7
  * hash-match a SQL oracle instead of being rows-only (float-sum
  * cosines differ across engines by summation order). The scale
  * paths are LSH (H3), IVF (H4/H6), and PQ (H7): at 100 TB the
  * candidate work per query is O(bucket)/O(cell) or LUT-sized, never
  * O(n·dim) over raw vectors; the bucketed ones are equi-joins so
  * they shuffle-partition cleanly across a cluster. The
  * synthetic embeddings are near-random (max pairwise cosine ~0.5),
  * so recall bounds in specs are modest — the mechanisms (bucketing,
  * multiprobe, re-rank) are what's tested.
  */
object Similarity extends Registered {

  private val K = 10
  private val NQueries = 8

  /** Shared lazy cache of the quantized corpus: every similarity
    * query starts from the same quantize+self-dot scan, and the
    * recall eval runs four indexes over it. Spark's cache is
    * spillable, and at 100 TB the quantized+coded representation is
    * the thing you'd persist anyway.
    *
    * Invalidation note: CacheManager matches cached plans by
    * CANONICALIZED form (root path, not file list), so merely
    * re-caching after a data rewrite would silently serve the OLD
    * blocks. As a [[Memo.cached]] entry the superseded plan is
    * unpersisted on an mtime change before the rebuilt one is cached
    * — one entry per (session, dir). */
  private def embSrc(dir: String): Seq[String] = Seq(s"$dir/embeddings.parquet")

  /** Quantized vectors + integer squared norm (one native self-dot). */
  private[operators] def quantized(spark: SparkSession, dir: String): DataFrame =
    Memo.cached(spark, s"sim.quantized:$dir", embSrc(dir))(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), vquantize(col("embedding"), 10000.0).as("qvec"))
        .select(col("vec_id"), col("qvec"),
          vdotQuantizedNative(col("qvec"), col("qvec")).as("nsq")))

  /** Deterministic cosine from integer parts — see object doc. */
  private[operators] def cosineQ(dot: Column, nsqA: Column, nsqB: Column): Column =
    dot.cast("double") / (sqrt(nsqA) * sqrt(nsqB))

  /** Shared oracle CTE: quantized vectors + integer squared norms. */
  private[operators] def qnSqlCte: String =
    """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qvec
      |  FROM embeddings
      |), qnn AS (
      |  SELECT vec_id, qvec,
      |    CAST(list_sum(list_transform(qvec, x -> x * x)) AS BIGINT) AS nsq
      |  FROM qv
      |)""".stripMargin

  private[operators] def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), s -> s[1] * s[2])) AS BIGINT)"

  private[operators] def cosSql(dot: String, na: String, nb: String): String =
    s"CAST($dot AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  /** H1 `sim_topk_bruteforce` — top-k by quantized dot product for the
    * first NQueries vectors. Queries are broadcast (tiny side), the
    * corpus side streams: one pass over n rows per batch of queries,
    * then a per-query top-k window. */
  def topkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("dot"))
  }

  /** H1's exact top-K as (qid, vec_id): the ground truth the recall
    * evaluators (H5, H17, H27) join every index's result against. A
    * [[Memo.cached]] entry over embeddings.parquet, because each
    * evaluator reads it from several branches, and a bare `.cache()`
    * of it would keep serving the old truth after a rewrite of the
    * embeddings (CacheManager matches the plan by path, not by
    * content). [[topkBruteforce]] itself stays uncached. */
  private def truth(spark: SparkSession, dir: String): DataFrame =
    Memo.cached(spark, s"sim.truth:$dir", embSrc(dir))(
      topkBruteforce(spark, dir).select(col("qid"), col("vec_id")))

  def topkBruteforceSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qq
       |  FROM embeddings WHERE vec_id < $NQueries
       |), c AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qvec
       |  FROM embeddings
       |), d AS (
       |  SELECT qid, vec_id,
       |    CAST(list_sum(list_transform(list_zip(qq, qvec), s -> s[1] * s[2]))
       |      AS BIGINT) AS dot
       |  FROM q JOIN c ON vec_id <> qid
       |)
       |SELECT qid, rank, vec_id, dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY dot DESC, vec_id) AS rank
       |  FROM d
       |) WHERE rank <= $K""".stripMargin

  /** H20 `sim_mmr_select` — Maximal-Marginal-Relevance diverse top-k
    * (Carbonell & Goldstein, SIGIR'98 — the standard relevance/
    * redundancy re-ranker for retrieval-augmented pipelines): per
    * probe, candidates are its top-[[MmrPool]] by exact quantized dot
    * (H1's pool), then [[MmrK]] items are selected greedily — step 1
    * takes the most relevant; each later step takes
    * argmax λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) with λ = ½ (ties →
    * smaller vec_id), so every pick is the most relevant thing least
    * like what's already chosen. Determinism: rel/sim are the house
    * quantized-cosine (exact integer dot ÷ sqrt products — a pinned
    * IEEE sequence), the score expression shape `0.5·rel − 0.5·maxsim`
    * is identical in both engines, and ties are row_number'd, so the
    * greedy trajectory hash-matches step for step; the oracle unrolls
    * the [[MmrK]] selections as MATERIALIZED CTEs.
    * Scale: ONE corpus pass builds the pools (queries broadcast, the
    * H1 economics); everything after — the pool×pool sim table
    * (NQueries·pool² rows) and the greedy steps — runs on CONTRACT-
    * bounded metadata, eagerly checkpointed so no step replans the
    * corpus scan. Memoized per (dir, pool, k) under the iterative-op
    * discipline. */
  private val MmrPool = 20
  private val MmrK = 5

  def mmrSelect(spark: SparkSession, dir: String,
                poolK: Int = MmrPool, selectK: Int = MmrK): DataFrame = {
    val sel = Memo.checkpointed(spark, s"sim.mmr:$dir:$poolK:$selectK",
        embSrc(dir)) {
      val emb = quantized(spark, dir)
      val q = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("qvec").as("qq"),
          col("nsq").as("qn"))
      val wPool = Window.partitionBy(col("qid"))
        .orderBy(col("dot").desc, col("vec_id"))
      val pool = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
        .withColumn("rk", row_number().over(wPool))
        .filter(col("rk") <= poolK)
        .select(col("qid"), col("vec_id"),
          cosineQ(col("dot"), col("qn"), col("nsq")).as("rel"),
          col("qvec"), col("nsq"))
        .cutLineage() // NQueries×poolK rows; ends the corpus scan
      val sims = pool.as("a")
        .join(pool.as("b"), col("a.qid") === col("b.qid") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.qid").as("qid"), col("a.vec_id").as("sa"),
          col("b.vec_id").as("sb"),
          cosineQ(vdotQuantizedNative(col("a.qvec"), col("b.qvec")),
            col("a.nsq"), col("b.nsq")).as("sim"))
        .cutLineage() // NQueries×poolK×(poolK−1) rows
      val cand = pool.select(col("qid"), col("vec_id"), col("rel"))
      val wPick = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("vec_id"))
      val first = cand
        .withColumn("score", lit(0.5) * col("rel"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), lit(1).as("step"),
          col("score").as("mmr_score"))
      // round i picks step i + 1; the pool and the pairwise sims are
      // the loop's scaffolding, released with it
      Ckpt.rounds(first, selectK - 1, pool, sims) { (s, i) =>
        val ms = sims
          .join(s.select(col("qid").as("q2"), col("vec_id").as("selv")),
            col("qid") === col("q2") && col("sa") === col("selv"))
          .groupBy(col("qid"), col("sb").as("vec_id"))
          .agg(max(col("sim")).as("maxsim"))
        s.union(cand
          .join(s.select(col("qid").as("q3"), col("vec_id").as("v3")),
            col("qid") === col("q3") && col("vec_id") === col("v3"),
            "left_anti")
          .join(ms, Seq("qid", "vec_id"))
          .withColumn("score",
            lit(0.5) * col("rel") - lit(0.5) * col("maxsim"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("qid"), col("vec_id"), lit(i + 1).as("step"),
            col("score").as("mmr_score")))
      }
    }
    sel.select(col("qid"), col("step"), col("vec_id"),
      round(col("mmr_score"), 6).as("mmr_score"))
      .orderBy(col("qid"), col("step"))
  }

  def mmrSelectSql(poolK: Int = MmrPool, selectK: Int = MmrK): String = {
    val steps = (2 to selectK).map { t =>
      s"""m$t AS MATERIALIZED (
         |  SELECT p.qid, p.vec_id, p.rel, MAX(s.sim) AS maxsim
         |  FROM pool p JOIN sims s ON s.qid = p.qid AND s.b = p.vec_id
         |  JOIN sel${t - 1} z ON z.qid = s.qid AND z.vec_id = s.a
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |                    WHERE x.qid = p.qid AND x.vec_id = p.vec_id)
         |  GROUP BY 1, 2, 3
         |), pick$t AS MATERIALIZED (
         |  SELECT qid, vec_id, $t AS step,
         |    0.5 * rel - 0.5 * maxsim AS mmr_score
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |          ORDER BY 0.5 * rel - 0.5 * maxsim DESC, vec_id) AS rn
         |        FROM m$t)
         |  WHERE rn = 1
         |), sel$t AS MATERIALIZED (
         |  SELECT qid, vec_id, step, mmr_score FROM sel${t - 1}
         |  UNION ALL SELECT qid, vec_id, step, mmr_score FROM pick$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $qnSqlCte,
       |probes AS (SELECT vec_id AS qid, qvec AS qq, nsq AS qn
       |           FROM qnn WHERE vec_id < $NQueries),
       |pool AS MATERIALIZED (
       |  SELECT qid, vec_id, rel, qvec, nsq FROM (
       |    SELECT p.qid, c.vec_id, c.qvec, c.nsq,
       |      ${cosSql(dotSql("p.qq", "c.qvec"), "p.qn", "c.nsq")} AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${dotSql("p.qq", "c.qvec")} DESC, c.vec_id) AS rk
       |    FROM probes p JOIN qnn c ON c.vec_id <> p.qid)
       |  WHERE rk <= $poolK
       |), sims AS MATERIALIZED (
       |  SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
       |    ${cosSql(dotSql("a.qvec", "b.qvec"), "a.nsq", "b.nsq")} AS sim
       |  FROM pool a JOIN pool b
       |    ON a.qid = b.qid AND a.vec_id <> b.vec_id
       |), sel1 AS MATERIALIZED (
       |  SELECT qid, vec_id, 1 AS step, 0.5 * rel AS mmr_score
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY rel DESC, vec_id) AS rn FROM pool)
       |  WHERE rn = 1
       |),
       |$steps
       |SELECT qid, step, vec_id, ROUND(mmr_score, 6) AS mmr_score
       |FROM sel$selectK ORDER BY qid, step""".stripMargin
  }

  /** H22 `sim_rocchio_feedback` — pseudo-relevance-feedback query
    * expansion (Rocchio 1971, the classic two-round retrieval): round
    * 1 retrieves each probe's top-k0 by exact quantized dot; the
    * expanded query q' = k0·q + Σ seeds (integer Rocchio with α=1,
    * β=1 scaled by k0 so q' stays in exact BIGINT space — any
    * positive scaling of q' preserves its dot-product ranking);
    * round 2 re-ranks the WHOLE corpus by dot(q', ·) and serves the
    * top-k with a `was_seed` flag (how much the expansion merely
    * confirmed round 1 vs surfaced new neighbors — the
    * expansion-utility read). All-integer scoring, rank ties by
    * vec_id — hash-exact cross-engine.
    * Scale: TWO corpus passes (one per round — the irreducible
    * pseudo-feedback cost), each with the query side broadcast (H1's
    * economics); the seed set and expanded queries are
    * CONTRACT-bounded (NQueries×k0 rows / NQueries arrays), built via
    * a positional explode over bounded rows and checkpointed so round
    * 2 never re-plans round 1. */
  def rocchioFeedback(spark: SparkSession, dir: String,
                      k0: Int = 10, k: Int = 10): DataFrame = {
    val emb = quantized(spark, dir)
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"))
    val wR1 = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    val r1 = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
      .withColumn("rk", row_number().over(wR1))
      .filter(col("rk") <= k0)
      .select(col("qid"), col("vec_id"), col("qvec"))
      .cutLineage() // NQueries×k0 seeds; ends the round-1 scan
    val seedpos = r1
      .select(col("qid"), posexplode(col("qvec")).as(Seq("pos", "v")))
      .groupBy(col("qid"), col("pos")).agg(sum(col("v")).as("s"))
    val qexp = q
      .select(col("qid"), posexplode(col("qq")).as(Seq("pos", "qv")))
      .join(seedpos, Seq("qid", "pos"))
      .withColumn("qe_i", lit(k0.toLong) * col("qv") + col("s"))
      .groupBy(col("qid"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(pos, qe_i))), x -> x.qe_i)")
        .as("qe"))
    val seeds = r1.select(col("qid").as("fq"), col("vec_id").as("fv"),
      lit(true).as("seed"))
    val wR2 = Window.partitionBy(col("qid"))
      .orderBy(col("dot_exp").desc, col("vec_id"))
    emb.join(broadcast(qexp), col("vec_id") =!= col("qid"))
      .withColumn("dot_exp", vdotQuantizedNative(col("qe"), col("qvec")))
      .withColumn("rank", row_number().over(wR2))
      .filter(col("rank") <= k)
      .join(broadcast(seeds),
        col("qid") === col("fq") && col("vec_id") === col("fv"), "left")
      .select(col("qid"), col("rank"), col("vec_id"), col("dot_exp"),
        coalesce(col("seed"), lit(false)).as("was_seed"))
      .orderBy(col("qid"), col("rank"))
  }

  def rocchioFeedbackSql(k0: Int = 10, k: Int = 10): String =
    s"""WITH qv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qvec
       |  FROM embeddings
       |), probes AS (SELECT vec_id AS qid, qvec AS qq FROM qv
       |              WHERE vec_id < $NQueries),
       |r1 AS MATERIALIZED (
       |  SELECT qid, vec_id, qvec FROM (
       |    SELECT p.qid, c.vec_id, c.qvec,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${dotSql("p.qq", "c.qvec")} DESC, c.vec_id) AS rk
       |    FROM probes p JOIN qv c ON c.vec_id <> p.qid)
       |  WHERE rk <= $k0
       |), seedpos AS (
       |  SELECT qid, i AS pos, SUM(qvec[i]) AS s
       |  FROM r1, unnest(range(1, len(qvec) + 1)) AS t(i)
       |  GROUP BY 1, 2
       |), qexp AS (
       |  SELECT p.qid, list($k0 * p.qq[sp.pos] + sp.s ORDER BY sp.pos) AS qe
       |  FROM probes p JOIN seedpos sp ON sp.qid = p.qid
       |  GROUP BY 1
       |), scored AS (
       |  SELECT e.qid, c.vec_id,
       |    ${dotSql("e.qe", "c.qvec")} AS dot_exp,
       |    CASE WHEN r.vec_id IS NOT NULL THEN TRUE ELSE FALSE END
       |      AS was_seed
       |  FROM qexp e JOIN qv c ON c.vec_id <> e.qid
       |  LEFT JOIN r1 r ON r.qid = e.qid AND r.vec_id = c.vec_id
       |)
       |SELECT qid, rank, vec_id, dot_exp, was_seed FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dot_exp DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** Held-out eval-set size for H18 — a CONTRACT-bounded constant
    * like NQueries (the eval set broadcasts at any corpus scale). */
  private val NEval = 40

  /** H18 `sim_knn_classify` — k-NN label classification eval over
    * the embedding space: the first [[NEval]] vectors are held out,
    * each is classified by MAJORITY VOTE of its K nearest training
    * vectors (quantized dot order — integer-exact ranks, ties by
    * vec_id; vote ties break to the smaller label), and the served
    * result is the confusion matrix (true_label, pred_label,
    * n_queries) — the standard "are these embeddings any good for
    * retrieval" probe (a k-NN probe in representation-learning
    * terms), complementing H5/H17's recall evals with a
    * label-agreement signal. Every step is integer arithmetic:
    * votes are counts, the argmax is (votes desc, label) —
    * no float anywhere, so the matrix hash-matches exactly.
    * Scale: H1's shape — the bounded eval set broadcasts, the train
    * corpus streams one pass; the per-query top-K window runs over
    * K×NEval rows; vote/matrix rollups are label-cardinality sized. */
  def knnClassify(spark: SparkSession, dir: String,
                  k: Int = K, nEval: Int = NEval): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("lid"), col("label"))
    val emb = quantized(spark, dir)
      .join(labels, col("vec_id") === col("lid")).drop("lid")
    val q = emb.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"),
        col("label").as("true_label"))
    val train = emb.filter(col("vec_id") >= nEval)
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    train.crossJoin(broadcast(q))
      .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .groupBy(col("qid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrank", row_number().over(wVote))
      .filter(col("vrank") === 1)
      .groupBy(col("true_label"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  def knnClassifySql(k: Int = K, nEval: Int = NEval): String =
    s"""WITH $qnSqlCte,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |q AS (
       |  SELECT qnn.vec_id AS qid, qvec AS qq, label AS true_label
       |  FROM qnn JOIN lab ON qnn.vec_id = lab.vec_id
       |  WHERE qnn.vec_id < $nEval),
       |t AS (
       |  SELECT qnn.vec_id, qvec, label
       |  FROM qnn JOIN lab ON qnn.vec_id = lab.vec_id
       |  WHERE qnn.vec_id >= $nEval),
       |d AS (
       |  SELECT qid, true_label, t.vec_id, t.label,
       |    ${dotSql("qq", "qvec")} AS dot
       |  FROM q JOIN t ON TRUE),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY dot DESC, vec_id) AS rank FROM d)
       |  WHERE rank <= $k),
       |votes AS (
       |  SELECT qid, true_label, label, COUNT(*) AS votes
       |  FROM topk GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY votes DESC, label) AS vrank FROM votes)
       |  WHERE vrank = 1)
       |SELECT true_label, label AS pred_label, COUNT(*) AS n_queries
       |FROM pred GROUP BY 1, 2
       |ORDER BY true_label, pred_label""".stripMargin

  /** H21 `sim_classifier_metrics` — the evaluation layer over H18's
    * kNN confusion matrix: per-class true/predicted counts, true
    * positives, precision, recall, F1, and the macro-F1 attached as a
    * scalar — the report a labeling/curation pipeline reads before
    * trusting a classifier's output as a corpus filter. Zero-support
    * classes (never predicted, or absent from truth) serve 0.0 — the
    * sklearn zero_division=0 convention — via a FULL OUTER join of
    * the actual and predicted marginals, so a class the classifier
    * never emits still gets its recall row (the failure mode a
    * diagonal-only report hides).
    *
    * Determinism: counts are exact; precision/recall/F1 are fixed
    * IEEE shapes over them; macro-F1 averages the ROUNDED per-class
    * F1s through the house decimal-sum (class count is tiny but the
    * discipline is uniform). Scale: everything after the H18 matrix
    * (which pays the eval's ranking cost and caches its quantized
    * embeddings) is |classes|² rows — metadata scale; the marginal
    * joins and the macro attach are broadcasts. */
  def classifierMetrics(spark: SparkSession, dir: String,
                        k: Int = K, nEval: Int = NEval): DataFrame = {
    // |classes|²-row matrix feeding both marginals and the serve:
    // eager-materialize once so the ranking subtree isn't re-paid
    // per branch (house discipline for small fanned-out subtrees)
    val conf = knnClassify(spark, dir, k, nEval).cutLineage()
    val act = conf.groupBy(col("true_label").as("label"))
      .agg(sum(col("n_queries")).as("n_true"),
        sum(when(col("pred_label") === col("true_label"), col("n_queries"))
          .otherwise(lit(0L))).as("tp"))
    val prd = conf.groupBy(col("pred_label").as("plabel"))
      .agg(sum(col("n_queries")).as("n_pred"))
    val cls = act.join(prd, col("label") === col("plabel"), "full_outer")
      .select(coalesce(col("label"), col("plabel")).as("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val prec = when(col("n_pred") > 0,
      col("tp").cast("double") / col("n_pred").cast("double")).otherwise(0.0)
    val rec = when(col("n_true") > 0,
      col("tp").cast("double") / col("n_true").cast("double")).otherwise(0.0)
    val f1 = when(prec + rec > 0.0, lit(2.0) * prec * rec / (prec + rec))
      .otherwise(0.0)
    val m2 = cls.select(col("label"), col("n_true"), col("n_pred"), col("tp"),
      round(prec, 6).as("precision"), round(rec, 6).as("recall"),
      round(f1, 6).as("f1"))
    val g = m2.agg((sum(col("f1").cast("decimal(18,6)")).cast("double")
      / count(lit(1))).as("mf"))
    m2.crossJoin(broadcast(g))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        col("precision"), col("recall"), col("f1"),
        round(col("mf"), 6).as("macro_f1"))
  }

  def classifierMetricsSql(k: Int = K, nEval: Int = NEval): String =
    s"""WITH conf AS (
       |${knnClassifySql(k, nEval)}
       |), act AS (
       |  SELECT true_label AS label,
       |    CAST(SUM(n_queries) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN pred_label = true_label THEN n_queries
       |                  ELSE 0 END) AS BIGINT) AS tp
       |  FROM conf GROUP BY 1
       |), prd AS (
       |  SELECT pred_label AS plabel, CAST(SUM(n_queries) AS BIGINT) AS n_pred
       |  FROM conf GROUP BY 1
       |), cls AS (
       |  SELECT COALESCE(label, plabel) AS label,
       |    COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
       |    COALESCE(tp, 0) AS tp
       |  FROM act FULL OUTER JOIN prd ON label = plabel
       |), m AS (
       |  SELECT label, n_true, n_pred, tp,
       |    CASE WHEN n_pred > 0
       |      THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
       |      ELSE 0.0 END AS prec,
       |    CASE WHEN n_true > 0
       |      THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
       |      ELSE 0.0 END AS rec
       |  FROM cls
       |), m2 AS (
       |  SELECT label, n_true, n_pred, tp,
       |    ROUND(prec, 6) AS precision, ROUND(rec, 6) AS recall,
       |    ROUND(CASE WHEN prec + rec > 0.0
       |      THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
       |  FROM m
       |), g AS (
       |  SELECT CAST(CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*) AS mf
       |  FROM m2
       |)
       |SELECT label, n_true, n_pred, tp, precision, recall, f1,
       |  ROUND(mf, 6) AS macro_f1
       |FROM m2 CROSS JOIN g""".stripMargin

  /** H2 `sim_cosine_pairs` — all pairs above a cosine threshold. The
    * O(n^2) version: correctness baseline for the spec's recall
    * checks; production path at scale is H3/H4. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame = {
    graft.Engine.requireQuadraticAllowed(spark, "sim_cosine_pairs")
    val emb = quantized(spark, dir)
    val a = emb.select(col("vec_id").as("vec_a"), col("qvec").as("qa"), col("nsq").as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("qvec").as("qb"), col("nsq").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cosine") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  def cosinePairsSql: String =
    s"""WITH $qnSqlCte
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${cosSql(dotSql("a.qvec", "b.qvec"), "a.nsq", "b.nsq")} AS cosine
       |  FROM qnn a JOIN qnn b ON a.vec_id < b.vec_id
       |) WHERE cosine >= 0.35""".stripMargin

  /** Deterministic pseudo-random hyperplanes derived from md5 — no
    * RNG, reproducible across runs/engines (cited pattern: seeded
    * random-hyperplane LSH, Charikar'02 SimHash for cosine). Integer
    * components in [-1000, 1000]: the sign of an integer plane dot an
    * integer qvec is exact, so bucket bits can never flip between
    * engines (a float dot near zero could). */
  private[operators] def planes(nPlanes: Int, dim: Int = 64): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val h = md.digest(s"$p:$j".getBytes("UTF-8"))
          .take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) & Long.MaxValue
        (h % 2001L) - 1000L
      }
    }
  }

  private val NPlanes = 4

  /** Sign-bit bucket of a quantized vector against the hyperplanes. */
  private[operators] def bucketCol(q: Column): Column =
    planes(NPlanes).zipWithIndex.map { case (pl, i) =>
      val planeArr = array(pl.map(lit): _*)
      when(vdotQuantizedNative(q, planeArr) > 0L, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Same bucket bits in SQL, planes embedded as literal lists. */
  private[operators] def bucketSql(q: String): String =
    planes(NPlanes).zipWithIndex.map { case (pl, i) =>
      val planeList = pl.mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(q, planeList)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** H3 `sim_lsh_ann` — random-hyperplane LSH ANN with hamming<=1
    * multiprobe: each query expands to NPlanes+1 probe buckets
    * (equi-join keys — this is what distributes at scale: the corpus
    * is hash-partitioned by bucket, each probe hits one partition),
    * candidates re-ranked by exact cosine. */
  def lshAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
      .withColumn("bucket", bucketCol(col("qvec")))
    val probes = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"), col("nsq").as("qn"),
        col("bucket").as("qb"),
        explode(array((lit(0) +: (0 until NPlanes).map(i => lit(1 << i))): _*))
          .as("flip"))
      .select(col("qid"), col("qq"), col("qn"),
        col("qb").bitwiseXOR(col("flip")).as("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    emb.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qq"), col("qvec")), col("qn"), col("nsq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"), col("bucket"))
  }

  def lshAnnSql: String =
    s"""WITH $qnSqlCte, b AS (
       |  SELECT vec_id, qvec, nsq, ${bucketSql("qvec")} AS bucket FROM qnn
       |), probes AS (
       |  SELECT q.vec_id AS qid, q.qvec AS qq, q.nsq AS qn,
       |    xor(q.bucket, f.flip) AS bucket
       |  FROM b q, (VALUES ${(0L +: (0 until NPlanes).map(i => (1L << i).toLong))
      .map(f => s"($f)").mkString(", ")}) f(flip)
       |  WHERE q.vec_id < $NQueries
       |), cand AS (
       |  SELECT p.qid, c.vec_id,
       |    ${cosSql(dotSql("p.qq", "c.qvec"), "p.qn", "c.nsq")} AS cosine,
       |    p.bucket
       |  FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.qid
       |)
       |SELECT qid, rank, vec_id, cosine, bucket FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand
       |) WHERE rank <= $K""".stripMargin

  private val NProbeCells = 2
  private val MaxCentroids = 256

  /** H4 `sim_ivf_probe` — IVF-style partitioned search: deterministic
    * coarse centroids, every vector assigned to its nearest centroid
    * (the inverted file), queries probe the NProbeCells nearest cells
    * and re-rank by exact cosine. At scale the corpus is partitioned
    * by cell id; a query touches only its probed partitions.
    *
    * Centroid count is ~sqrt(n) CAPPED at MaxCentroids and hash-picked
    * (smallest md5(vec_id) — a deterministic sample, TakeOrdered not a
    * sort). The cap bounds the broadcast (≤256 × 64 longs) and the
    * assignment work (O(n·k)) no matter the corpus size — an
    * every-Nth-vector scheme would grow both linearly with n. A real
    * deployment would k-means a sample for better cell balance; the
    * partitioning/probing mechanics are identical. */
  /** The IVF search itself, given any centroid set (cent_id, cq, cn):
    * build the inverted file (nearest-centroid assignment), probe the
    * NProbeCells nearest cells per query, re-rank by exact cosine.
    * Shared by the hash-picked (H4) and k-means-trained (H6) indexes
    * — one implementation, so tie-breaks/probe counts cannot drift
    * between them. */
  /** One IVF list-assignment pass: each vector keys itself to its
    * best (quantized-cosine argmax) centroid. Per-row independent —
    * the property the H23 incremental refresh rests on: assigning
    * base ∪ delta in one pass ≡ assigning each slice separately
    * against the SAME frozen centroids and unioning the lists. */
  private def assignTo(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        cosineQ(vdotQuantizedNative(col("qvec"), col("cq")), col("nsq"), col("cn")))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("qvec"), col("nsq"), col("cent_id").as("cell"))
  }

  private def ivfSearch(emb: DataFrame, cents: DataFrame): DataFrame =
    searchAssigned(emb, cents, assignTo(emb, cents))

  /** The probe tail over an already-built inverted file. */
  private def searchAssigned(emb: DataFrame, cents: DataFrame,
                             assigned: DataFrame): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("qcent_cos").desc, col("cent_id"))
    val probes = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"), col("nsq").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("qcent_cos",
        cosineQ(vdotQuantizedNative(col("qq"), col("cq")), col("qn"), col("cn")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= NProbeCells)
      .select(col("qid"), col("qq"), col("qn"), col("cent_id").as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qq"), col("qvec")), col("qn"), col("nsq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"), col("cell"))
  }

  /** Same search tail in SQL, parameterized by the centroid CTE name. */
  private def ivfTailSql(cents: String): String =
    s"""assigned AS (
       |  SELECT vec_id, qvec, nsq, cell FROM (
       |    SELECT e.vec_id, e.qvec, e.nsq, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN $cents c
       |  ) WHERE arn = 1
       |), probes AS (
       |  SELECT qid, qq, qn, cell FROM (
       |    SELECT e.vec_id AS qid, e.qvec AS qq, e.nsq AS qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS prn
       |    FROM qnn e CROSS JOIN $cents c WHERE e.vec_id < $NQueries
       |  ) WHERE prn <= $NProbeCells
       |), cand AS (
       |  SELECT p.qid, a.vec_id,
       |    ${cosSql(dotSql("p.qq", "a.qvec"), "p.qn", "a.nsq")} AS cosine,
       |    p.cell
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid
       |)
       |SELECT qid, rank, vec_id, cosine, cell FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand
       |) WHERE rank <= $K""".stripMargin

  def ivfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val k = ivfK(spark, dir, emb)
    val cents = emb.orderBy(md5(col("vec_id").cast("string"))).limit(k)
      .select(col("vec_id").as("cent_id"), col("qvec").as("cq"), col("nsq").as("cn"))
    ivfSearch(emb, cents)
  }

  /** The frozen H4 index pieces + probe set for the H4t streaming
    * serve twin (StreamOps.annServe): the contract's NQueries query
    * vectors, the hash-picked centroid table COLLECTED (bounded ≤
    * [[MaxCentroids]] rows by construction — this is the closure copy
    * of the broadcast table the stream-side probe map needs; same
    * bounded-collect class as Bucketing's one-row stats fetch), and
    * the assigned inverted file exactly as sim_ivf_probe builds it. */
  private[graft] def streamServeFixture(spark: SparkSession, dir: String)
      : (Seq[graft.streaming.StreamOps.QueryVec],
         Seq[(Long, Array[Long], Long)], DataFrame, Int, Int) = {
    val emb = quantized(spark, dir)
    val k = ivfK(spark, dir, emb)
    val cents = emb.orderBy(md5(col("vec_id").cast("string"))).limit(k)
      .select(col("vec_id").as("cent_id"), col("qvec").as("cq"), col("nsq").as("cn"))
    val centSeq = cents.collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val queries = emb.filter(col("vec_id") < NQueries).collect().toSeq.map(r =>
      graft.streaming.StreamOps.QueryVec(r.getLong(0),
        r.getSeq[Long](1).toArray, r.getLong(2)))
    (queries, centSeq, assignTo(emb, cents), NProbeCells, K)
  }

  def ivfProbeSql: String =
    s"""WITH $qnSqlCte, cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM qnn ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM embeddings)
       |), ${ivfTailSql("cents")}""".stripMargin

  /** H23 `sim_index_refresh` — INCREMENTAL ANN-index maintenance
    * (P4's day-2 discipline applied to the H family, per the r9
    * verdict ask): the day-1 index — hash-picked centroids trained on
    * the BASE slice (first [[RefreshSplitPct]]% of vec_ids) plus the
    * base inverted lists — is a FROZEN, checkpointed artifact; a
    * corpus refresh re-encodes ONLY the delta slice against the
    * frozen centroids (one O(|delta|·k) broadcast assignment — the
    * scan carries a pushed vec_id ≥ split filter, so delta cost is
    * O(|delta|), never a corpus rescan) and the served index is the
    * list-level MERGE base ∪ delta. Probes search the merged file
    * with H4's exact tail; each hit reports which slice it lives in.
    *
    * Correctness hinge (spec-pinned): list assignment is per-row
    * independent, so merge-after-delta-encode ≡ full rebuild under
    * the same frozen codebook — the oracle recomputes the full
    * rebuild from scratch and must hash-match the incremental serve.
    * This is the standard production IVF shape (FAISS/SPANN-style
    * segment merge): codebooks retrain rarely and offline; daily
    * ingest only appends encoded postings. */
  private val RefreshSplitPct = 80

  /** Frozen day-1 artifacts: (splitId, centroids, base inverted
    * lists), memoized per (dir, splitPct) with the house lifecycle. */
  private[graft] def refreshBaseParts(spark: SparkSession, dir: String,
      splitPct: Int): (Long, DataFrame, DataFrame) = {
    // the checkpoint mode is part of the token, as for every
    // checkpointed memo: a mid-session graft.checkpoint.dir flip
    // replaces the entry and RELEASES the superseded blocks
    Memo[(Long, DataFrame, DataFrame)](spark,
        s"sim.refresh:$dir:$splitPct", embSrc(dir), Ckpt.mode(spark)) {
      case (_, cents, baseIdx) => Ckpt.release(cents); Ckpt.release(baseIdx)
    } {
      val emb = quantized(spark, dir)
      // bounded 1-row driver scalars (the ivfK/DPP-threshold
      // pattern): corpus size -> split boundary and base-sized k
      val n = emb.count()
      val splitId = n * splitPct / 100
      val base = emb.filter(col("vec_id") < splitId)
      // k from the ACTUAL base row count, not from splitId:
      // vec_ids are dense at the driver SFs but OFFSET per
      // replica at the scale layouts, where count(vec_id <
      // splitId) != splitId — deriving k from the threshold
      // trained a different codebook than the oracle's (caught
      // by the 10x answer gate in r10)
      val baseCount = base.count()
      val kb = math.min(MaxCentroids,
        math.max(8, math.ceil(math.sqrt(baseCount.toDouble)).toInt))
      val cents = base.orderBy(md5(col("vec_id").cast("string"))).limit(kb)
        .select(col("vec_id").as("cent_id"), col("qvec").as("cq"),
          col("nsq").as("cn"))
        .cutLineage() // the frozen codebook
      val baseIdx = assignTo(base, cents)
        .cutLineage() // the persisted day-1 inverted file
      (splitId, cents, baseIdx)
    }
  }

  def indexRefresh(spark: SparkSession, dir: String,
                   splitPct: Int = RefreshSplitPct): DataFrame = {
    val emb = quantized(spark, dir)
    val (splitId, cents, baseIdx) = refreshBaseParts(spark, dir, splitPct)
    // day-2 work: encode ONLY the delta against the frozen codebook
    val deltaIdx = assignTo(emb.filter(col("vec_id") >= splitId), cents)
    val merged = baseIdx.union(deltaIdx)
    searchAssigned(emb, cents, merged)
      .withColumn("src",
        when(col("vec_id") < splitId, lit("base")).otherwise(lit("delta")))
  }

  /** Spec seam: the full-rebuild search under the SAME frozen
    * codebook — one assignment pass over the whole corpus. The H23
    * spec pins incremental-merge ≡ this. */
  private[graft] def fullRebuildSearch(spark: SparkSession, dir: String,
      splitPct: Int): DataFrame = {
    val emb = quantized(spark, dir)
    val (_, cents, _) = refreshBaseParts(spark, dir, splitPct)
    searchAssigned(emb, cents, assignTo(emb, cents))
  }

  /** Spec seam: the delta-encode subtree over the RAW parquet scan
    * (the cached quantized table hides pushdown behind its
    * InMemoryTableScan), proving the day-2 encode reads only the
    * delta slice — the vec_id ≥ split predicate reaches the scan. */
  private[graft] def deltaEncodePlanProbe(spark: SparkSession,
      dir: String, splitPct: Int): DataFrame = {
    val (splitId, cents, _) = refreshBaseParts(spark, dir, splitPct)
    val raw = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= splitId)
      .select(col("vec_id"), vquantize(col("embedding"), 10000.0).as("qvec"))
      .select(col("vec_id"), col("qvec"),
        vdotQuantizedNative(col("qvec"), col("qvec")).as("nsq"))
    assignTo(raw, cents)
  }

  /** H24 `sim_index_tombstone` — tombstone-aware (soft-delete) index
    * READ: deletions are excluded by a posting-level filter at query
    * time, never by rebuilding — the FAISS IDSelector / Lucene
    * live-docs shape, and the missing half of H23's day-2 story
    * (refresh admits vectors; this retires them). The delete set is
    * deterministic (vec_id ≡ tombR mod tombMod, ~1/tombMod of the
    * corpus); the served search runs over the SAME frozen codebook
    * and merged inverted file as H23 with tombstoned postings
    * filtered out. Probes are unchanged — query vectors are external
    * to the index.
    *
    * Correctness hinge (spec-pinned): under a frozen codebook,
    * assignment is per-row independent, so filter-after-assign ≡
    * assign-after-filter — the soft-deleted read equals an index
    * REBUILT from the surviving corpus. Scale: the filter is a
    * posting-level predicate pushed into the index scan; delete cost
    * is O(0) at write time and one cheap predicate at read — no
    * rebuild, no compaction required until tombstone density
    * warrants it. */
  def indexTombstone(spark: SparkSession, dir: String,
      splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3): DataFrame = {
    val emb = quantized(spark, dir)
    val (splitId, cents, baseIdx) = refreshBaseParts(spark, dir, splitPct)
    val deltaIdx = assignTo(emb.filter(col("vec_id") >= splitId), cents)
    val live = baseIdx.union(deltaIdx)
      .filter(pmod(col("vec_id"), lit(tombMod)) =!= tombR)
    searchAssigned(emb, cents, live)
  }

  /** Spec seam: the index REBUILT from the surviving corpus under the
    * same frozen codebook — one assignment pass over the filtered
    * corpus. H24's spec pins soft-delete-read ≡ this. */
  private[graft] def tombstoneRebuildProbe(spark: SparkSession, dir: String,
      splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3): DataFrame = {
    val emb = quantized(spark, dir)
    val (_, cents, _) = refreshBaseParts(spark, dir, splitPct)
    searchAssigned(emb, cents,
      assignTo(emb.filter(pmod(col("vec_id"), lit(tombMod)) =!= tombR), cents))
  }

  def indexTombstoneSql(splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3): String =
    s"""WITH $qnSqlCte, sp AS (
       |  SELECT (COUNT(*) * $splitPct) // 100 AS split_id FROM embeddings
       |), base AS (
       |  SELECT q.* FROM qnn q CROSS JOIN sp WHERE vec_id < split_id
       |), cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM base)
       |), assigned AS (
       |  SELECT vec_id, qvec, nsq, cell FROM (
       |    SELECT e.vec_id, e.qvec, e.nsq, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |    WHERE (e.vec_id % $tombMod) <> $tombR
       |  ) WHERE arn = 1
       |), probes AS (
       |  SELECT qid, qq, qn, cell FROM (
       |    SELECT e.vec_id AS qid, e.qvec AS qq, e.nsq AS qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS prn
       |    FROM qnn e CROSS JOIN cents c WHERE e.vec_id < $NQueries
       |  ) WHERE prn <= $NProbeCells
       |), cand AS (
       |  SELECT p.qid, a.vec_id,
       |    ${cosSql(dotSql("p.qq", "a.qvec"), "p.qn", "a.nsq")} AS cosine,
       |    p.cell
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid
       |)
       |SELECT qid, rank, vec_id, cosine, cell FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand
       |) WHERE rank <= $K""".stripMargin

  def indexRefreshSql(splitPct: Int = RefreshSplitPct): String =
    s"""WITH $qnSqlCte, sp AS (
       |  SELECT (COUNT(*) * $splitPct) // 100 AS split_id FROM embeddings
       |), base AS (
       |  SELECT q.* FROM qnn q CROSS JOIN sp WHERE vec_id < split_id
       |), cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM base)
       |), assigned AS (
       |  SELECT vec_id, qvec, nsq, cell FROM (
       |    SELECT e.vec_id, e.qvec, e.nsq, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |  ) WHERE arn = 1
       |), probes AS (
       |  SELECT qid, qq, qn, cell FROM (
       |    SELECT e.vec_id AS qid, e.qvec AS qq, e.nsq AS qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS prn
       |    FROM qnn e CROSS JOIN cents c WHERE e.vec_id < $NQueries
       |  ) WHERE prn <= $NProbeCells
       |), cand AS (
       |  SELECT p.qid, a.vec_id,
       |    ${cosSql(dotSql("p.qq", "a.qvec"), "p.qn", "a.nsq")} AS cosine,
       |    p.cell
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.qid
       |)
       |SELECT qid, rank, vec_id, cosine, cell,
       |  CASE WHEN vec_id < split_id THEN 'base' ELSE 'delta' END AS src
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand
       |) CROSS JOIN sp WHERE rank <= $K""".stripMargin

  /** H27 `sim_staleness_recall` — recall under index STALENESS: the
    * SLA number behind H23's refresh cadence. Between refreshes the
    * frozen index simply does not contain the day-2 vectors, so
    * retrieval quality decays as truth mass shifts into the unindexed
    * delta — the question an ANN operator actually asks is "how much
    * recall does a stale index cost TODAY, versus what the ANN
    * approximation itself costs". Served per (query, index_state):
    * recall@K of the BASE-ONLY (stale) index and of the H23-merged
    * (fresh) index against the H1 brute-force truth over the FULL
    * corpus, beside `n_truth_delta` (how many of the query's true
    * top-K live in the delta) and the `stale_ceiling` (K −
    * n_truth_delta)/K — the best any base-only index could do. The
    * decomposition is the point: fresh-vs-ceiling gaps are ANN
    * approximation loss (probe misses), ceiling-vs-stale-recall gaps
    * would be bugs, and 1 − ceiling is pure staleness cost that ONLY
    * a refresh can recover (spec-pinned: stale recall ≤ ceiling,
    * truth-in-delta hits appear in the fresh serve only).
    *
    * Scale: H23's economics — the base index and codebook are the
    * memoized frozen artifacts, the delta encode is O(|delta|), the
    * truth is the CONTRACT-bounded NQueries brute-force pass H5
    * already prices, and everything downstream is per-query-keyed
    * metadata. */
  def stalenessRecall(spark: SparkSession, dir: String,
                      splitPct: Int = RefreshSplitPct): DataFrame = {
    val emb = quantized(spark, dir)
    val (splitId, cents, baseIdx) = refreshBaseParts(spark, dir, splitPct)
    val bf = truth(spark, dir)
    val qids = bf.select(col("qid")).distinct()
    val truthDelta = bf.filter(col("vec_id") >= splitId)
      .groupBy(col("qid")).agg(count(lit(1)).as("n_truth_delta"))
    def per(assigned: DataFrame, state: String): DataFrame = {
      val res = searchAssigned(emb, cents, assigned)
        .select(col("qid"), col("vec_id"))
      val hits = bf.join(res, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qids.join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(state).as("index_state"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }
    val deltaIdx = assignTo(emb.filter(col("vec_id") >= splitId), cents)
    per(baseIdx, "stale").unionAll(per(baseIdx.union(deltaIdx), "fresh"))
      .join(truthDelta, Seq("qid"), "left")
      .select(col("qid"), col("index_state"), col("hits"),
        coalesce(col("n_truth_delta"), lit(0L)).as("n_truth_delta"),
        round(col("hits").cast("double") / K, 6).as("recall_at_k"),
        round((lit(K.toLong) - coalesce(col("n_truth_delta"), lit(0L)))
          .cast("double") / K, 6).as("stale_ceiling"))
  }

  def stalenessRecallSql(splitPct: Int = RefreshSplitPct): String =
    s"""WITH $qnSqlCte, sp AS (
       |  SELECT (COUNT(*) * $splitPct) // 100 AS split_id FROM embeddings
       |), base AS (
       |  SELECT q.* FROM qnn q CROSS JOIN sp WHERE vec_id < split_id
       |), cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM base)
       |), aFull AS (
       |  SELECT vec_id, qvec, nsq, cell FROM (
       |    SELECT e.vec_id, e.qvec, e.nsq, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |  ) WHERE arn = 1
       |), aBase AS (
       |  SELECT a.* FROM aFull a CROSS JOIN sp WHERE a.vec_id < split_id
       |), probes AS (
       |  SELECT qid, qq, qn, cell FROM (
       |    SELECT e.vec_id AS qid, e.qvec AS qq, e.nsq AS qn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS prn
       |    FROM qnn e CROSS JOIN cents c WHERE e.vec_id < $NQueries
       |  ) WHERE prn <= $NProbeCells
       |), topS AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${cosSql(dotSql("p.qq", "a.qvec"), "p.qn", "a.nsq")} DESC,
       |        a.vec_id) AS rnk
       |    FROM probes p JOIN aBase a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  ) WHERE rnk <= $K
       |), topF AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |        ${cosSql(dotSql("p.qq", "a.qvec"), "p.qn", "a.nsq")} DESC,
       |        a.vec_id) AS rnk
       |    FROM probes p JOIN aFull a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  ) WHERE rnk <= $K
       |), bf AS (SELECT qid, vec_id FROM ($topkBruteforceSql)),
       |qids AS (SELECT DISTINCT qid FROM bf),
       |td AS (
       |  SELECT b.qid, COUNT(*) AS n_truth_delta
       |  FROM bf b CROSS JOIN sp WHERE b.vec_id >= split_id GROUP BY 1
       |), hS AS (
       |  SELECT b.qid, COUNT(*) AS hits FROM bf b
       |  JOIN topS t ON b.qid = t.qid AND b.vec_id = t.vec_id GROUP BY 1
       |), hF AS (
       |  SELECT b.qid, COUNT(*) AS hits FROM bf b
       |  JOIN topF t ON b.qid = t.qid AND b.vec_id = t.vec_id GROUP BY 1
       |), u AS (
       |  SELECT qids.qid, 'stale' AS index_state,
       |    COALESCE(hits, 0) AS hits FROM qids LEFT JOIN hS USING (qid)
       |  UNION ALL
       |  SELECT qids.qid, 'fresh', COALESCE(hits, 0)
       |  FROM qids LEFT JOIN hF USING (qid)
       |)
       |SELECT u.qid, index_state, CAST(hits AS BIGINT) AS hits,
       |  CAST(COALESCE(n_truth_delta, 0) AS BIGINT) AS n_truth_delta,
       |  ROUND(CAST(hits AS DOUBLE) / $K, 6) AS recall_at_k,
       |  ROUND(CAST($K - COALESCE(n_truth_delta, 0) AS DOUBLE) / $K, 6)
       |    AS stale_ceiling
       |FROM u LEFT JOIN td ON u.qid = td.qid""".stripMargin

  /** H25 `sim_index_compaction` — compaction PLANNER for the H23/H24
    * ANN index, closing the lifecycle (build → refresh → soft-delete
    * → compact). H24's doc says "no rebuild required until tombstone
    * density warrants it"; this operator SERVES that decision with
    * N4's planning discipline applied to the inverted file: per cell,
    * posting count, base/delta segment composition, tombstone count,
    * live count, tombstone density, and the needs_compaction flag —
    * a cell is flagged when its tombstone density reaches the
    * threshold (tauBp basis points). Flagged cells are the rebuild
    * work list; unflagged cells keep serving through H24's read-time
    * live-docs filter. This is the FAISS IndexIVF reclaim /
    * Lucene segment-merge-policy shape (merge a segment when its
    * deleted-doc ratio crosses the policy threshold).
    *
    * Exactness: the flag is decided in pure integer arithmetic
    * (n_tomb·10⁴ ≥ n_postings·tauBp) so the work list is
    * bit-identical cross-engine — the rounded density column is
    * display-only, never the decision input. Scale: one linear pass
    * over the inverted file (the same O(n·k) broadcast assignment
    * H23 already pays, memoized) and a cell-keyed aggregation at
    * codebook cardinality (≤ MaxCentroids rows out) — the planner is
    * metadata-scale regardless of corpus size.
    *
    * Correctness hinge (spec-pinned): physically rebuilding the
    * flagged cells (dropping tombstoned postings) and unioning the
    * kept cells under the read-time filter serves EXACTLY the H24
    * soft-deleted read — compaction is a pure storage move, by the
    * same per-row-independence argument as H23/H24. */
  def indexCompaction(spark: SparkSession, dir: String,
      splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3,
      tauBp: Int = 1500): DataFrame = {
    val emb = quantized(spark, dir)
    val (splitId, cents, baseIdx) = refreshBaseParts(spark, dir, splitPct)
    val deltaIdx = assignTo(emb.filter(col("vec_id") >= splitId), cents)
    baseIdx.union(deltaIdx)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_postings"),
        sum(when(col("vec_id") < splitId, 1L).otherwise(0L)).as("n_base"),
        sum(when(pmod(col("vec_id"), lit(tombMod)) === tombR, 1L)
          .otherwise(0L)).as("n_tomb"))
      .select(col("cell"), col("n_postings"), col("n_base"),
        (col("n_postings") - col("n_base")).as("n_delta"),
        col("n_tomb"),
        (col("n_postings") - col("n_tomb")).as("n_live"),
        round(col("n_tomb").cast("double")
          / col("n_postings").cast("double"), 6).as("tomb_density"),
        (col("n_tomb") * 10000L >= col("n_postings") * tauBp.toLong)
          .as("needs_compaction"))
      .orderBy(col("cell"))
  }

  /** Spec seam: the physically-compacted read — flagged cells rebuilt
    * with their tombstoned postings DROPPED (no read filter), kept
    * cells still under H24's read-time live filter. Equality with
    * indexTombstone proves compaction never changes an answer. */
  private[graft] def compactedReadProbe(spark: SparkSession, dir: String,
      splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3,
      tauBp: Int = 1500): DataFrame = {
    val emb = quantized(spark, dir)
    val (splitId, cents, baseIdx) = refreshBaseParts(spark, dir, splitPct)
    val merged = baseIdx.union(
      assignTo(emb.filter(col("vec_id") >= splitId), cents))
    val flaggedCells = broadcast(
      indexCompaction(spark, dir, splitPct, tombMod, tombR, tauBp)
        .filter(col("needs_compaction")).select(col("cell")))
    val live = pmod(col("vec_id"), lit(tombMod)) =!= tombR
    // rebuilt segment: tombstones physically gone, served as-is
    val rebuilt = merged.join(flaggedCells, Seq("cell")).filter(live)
    // kept segment: untouched postings behind the read-time filter
    val kept = merged.join(flaggedCells, Seq("cell"), "left_anti").filter(live)
    searchAssigned(emb, cents, rebuilt.union(kept))
  }

  def indexCompactionSql(splitPct: Int = RefreshSplitPct,
      tombMod: Int = 7, tombR: Int = 3, tauBp: Int = 1500): String =
    s"""WITH $qnSqlCte, sp AS (
       |  SELECT (COUNT(*) * $splitPct) // 100 AS split_id FROM embeddings
       |), base AS (
       |  SELECT q.* FROM qnn q CROSS JOIN sp WHERE vec_id < split_id
       |), cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM base ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM base)
       |), assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |  ) WHERE arn = 1
       |), stats AS (
       |  SELECT cell, COUNT(*) AS n_postings,
       |    CAST(SUM(CASE WHEN vec_id < split_id THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(SUM(CASE WHEN (vec_id % $tombMod) = $tombR THEN 1 ELSE 0 END) AS BIGINT) AS n_tomb
       |  FROM assigned CROSS JOIN sp GROUP BY cell, split_id
       |)
       |SELECT cell, n_postings, n_base, n_postings - n_base AS n_delta,
       |  n_tomb, n_postings - n_tomb AS n_live,
       |  ROUND(CAST(n_tomb AS DOUBLE) / CAST(n_postings AS DOUBLE), 6) AS tomb_density,
       |  n_tomb * 10000 >= n_postings * $tauBp AS needs_compaction
       |FROM stats ORDER BY cell""".stripMargin

  private val KmeansIters = 2

  /** Shared k (≈sqrt(n) capped), memoized: `emb.count()` is a Spark
    * job, and k is needed at PLAN time (limit(k)) — without the memo,
    * merely constructing or explaining sim_ivf_probe launches a count
    * job every time. */
  private def ivfK(spark: SparkSession, dir: String,
      emb: => DataFrame): Int =
    Memo.value(spark, s"sim.ivfK:$dir", embSrc(dir))(math.min(MaxCentroids,
      math.max(8, math.ceil(math.sqrt(emb.count().toDouble)).toInt)))

  /** H6 `sim_ivf_kmeans` — IVF with TRAINED coarse centroids: the
    * hash-picked sample of H4 refined by KmeansIters Lloyd
    * iterations (assign to nearest centroid, recompute each centroid
    * as the element-wise mean of its cell). Every step is exact
    * integer arithmetic — quantized-cosine assignment, long sums,
    * floor(sum/count) means — so the trained centroids, the inverted
    * file, AND the final ranks are bit-identical in both engines and
    * the whole operator hash-matches a DuckDB oracle (unrolled-CTE
    * Lloyd). Scale: per iteration one O(n·k) broadcast assignment
    * (k ≤ 256) and one (cell, dim)-keyed aggregation — the standard
    * distributed k-means step; cells that lose all members drop out,
    * shrinking k, exactly like a real IVF training run. At 100 TB
    * you train on a corpus SAMPLE (each Lloyd iteration rescans its
    * input) and only the final assignment pass touches every vector;
    * here the corpus is small enough to train on directly. */
  def ivfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    ivfSearch(emb, kmeansCents(spark, dir))
  }

  /** The trained (KmeansIters Lloyd rounds, exact integer) centroid
    * table H6 searches with — exposed as its own seam so M17's
    * cluster-balanced sampling reuses the SAME codebook recipe.
    * Memoized + checkpointed per (session, dir) like every frozen
    * index artifact (refreshBaseParts discipline): the codebook is a
    * TRAINED MODEL consumed by H6, H5's recall eval and M17 — without
    * the memo each consumer replays all Lloyd rounds from the scan
    * (r15; the un-memoized training dominated sim_ivf_kmeans and a
    * third of sim_recall_eval). */
  private[operators] def kmeansCents(spark: SparkSession,
      dir: String): DataFrame =
    Memo.checkpointed(spark, s"sim.kmcents:$dir", embSrc(dir))(
      kmeansCentsBuild(spark, dir).cutLineage())

  private def kmeansCentsBuild(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val k = ivfK(spark, dir, emb)
    var cents = emb.orderBy(md5(col("vec_id").cast("string"))).limit(k)
      .select(col("vec_id").as("cent_id"), col("qvec").as("cq"), col("nsq").as("cn"))
    for (_ <- 1 to KmeansIters) {
      val wA = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      val assign = emb.crossJoin(broadcast(cents))
        .withColumn("cent_cos",
          cosineQ(vdotQuantizedNative(col("qvec"), col("cq")), col("nsq"), col("cn")))
        .withColumn("arn", row_number().over(wA))
        .filter(col("arn") === 1)
        .select(col("cent_id"), col("qvec"))
      cents = assign
        .select(col("cent_id"), posexplode(col("qvec")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        // floor of the exact double quotient — Spark's integral `div`
        // truncates toward zero while DuckDB's // floors, so go
        // through the (exact, < 2^53) double division in both engines
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cq"))
        .withColumn("cn", vdotQuantizedNative(col("cq"), col("cq")))
    }
    cents
  }

  /** Every corpus vector keyed to its trained k-means cell — the
    * cluster map M17's balanced sampling consumes. Checkpointed and
    * memoized (house lifecycle): M17 fans it out to two consumers
    * (sizes + ranked picks), which would otherwise re-plan the whole
    * Lloyd training subtree per branch. */
  private[operators] def kmeansAssignments(spark: SparkSession,
      dir: String): DataFrame =
    Memo.checkpointed(spark, s"sim.kasg:$dir", embSrc(dir))(
      assignTo(quantized(spark, dir), kmeansCents(spark, dir))
        .select(col("vec_id"), col("cell")).cutLineage())

  def ivfKmeansSql: String =
    s"""WITH $kmeansCtesSql,
       |${ivfTailSql("c2")}""".stripMargin

  /** The trained-centroid CTE chain (qnn … c2) shared by H6's oracle
    * and M17's. */
  private[operators] def kmeansCtesSql: String = {
    // one Lloyd iteration as a CTE pair: assignment against `prev`,
    // then element-wise floor-mean rebuild
    def iter(prev: String, a: String, u: String, next: String): String =
      s"""$a AS (
         |  SELECT cent_id, qvec FROM (
         |    SELECT e.qvec, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
         |                 c.cent_id) AS arn
         |    FROM qnn e CROSS JOIN $prev c
         |  ) WHERE arn = 1
         |), $u AS (
         |  SELECT cent_id, s[2] AS pos,
         |    CAST(FLOOR(CAST(SUM(s[1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |  FROM (SELECT cent_id,
         |          unnest(list_zip(qvec, range(1, len(qvec) + 1))) AS s
         |        FROM $a)
         |  GROUP BY 1, 2
         |), $next AS (
         |  SELECT cent_id, cq,
         |    CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cn
         |  FROM (SELECT cent_id, list(m ORDER BY pos) AS cq FROM $u GROUP BY 1)
         |)""".stripMargin
    s"""$qnSqlCte, c0 AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM qnn ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM embeddings)
       |), ${iter("c0", "a1", "u1", "c1")},
       |${iter("c1", "a2", "u2", "c2")}""".stripMargin
  }

  /** The exact-cosine assignment CTE over the trained codebook —
    * appended after [[kmeansCtesSql]]; yields `kasg(vec_id, cell)`. */
  private[operators] def kmeansAsgSqlCte: String =
    s"""kasg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN c2 c
       |  ) WHERE arn = 1
       |)""".stripMargin


  // ---------------------------------------------------------------- H26
  /** H26 `sim_codebook_drift` — embedding-distribution DRIFT monitor
    * over the trained IVF codebook, the signal that decides WHEN the
    * index lifecycle (H23 refresh → H24 tombstone → H25 compaction)
    * escalates to a full RETRAIN: H23's frozen-codebook delta encode
    * is only sound while new vectors still look like the training
    * distribution, and the standard production check (Vespa/Milvus
    * ops guides; the ML-ops PSI discipline F20 already serves for
    * scalars) is cell-occupancy drift — assign both slices with ONE
    * frozen codebook (H6's exact-integer recipe via the shared
    * kmeansAssignments seam, so the monitored strata ARE the index
    * cells) and compare occupancy histograms by PSI with F20's exact
    * recipe (Laplace +1/+k smoothing, per-cell term rounded 6dp and
    * summed as DECIMAL(18,9) — order-insensitive). Absolute 0.1/0.25
    * cutoffs are a LARGE-SAMPLE convention: the null expectation of
    * PSI is ≈ χ²/N-shaped, (k−1)·(1/n_ref + 1/n_cur) — at small
    * slices that floor alone exceeds 0.1, so the served band grades
    * psi AGAINST the analytic floor (stable < 2×, moderate < 6×,
    * else shifted — the sample-size correction production monitors
    * apply), with both psi and psi_floor served so the decision is
    * auditable. Default compares a hash split of the corpus (null
    * hypothesis — must read `stable`); the `param_` splits on the
    * SIGN OF THE FIRST EMBEDDING COORDINATE — a genuine directional
    * shift in embedding space, which cosine cells track by
    * construction — and must escalate past stable (3.3× the floor at
    * sf0.01; the single-coordinate functional carries ~1/64 of the
    * direction variance, so it lands `moderate` there and hardens
    * with scale as the noise floor shrinks). Served as the one-row
    * decision record (a non-stable band IS the retrain review
    * trigger).
    *
    * Scale: rides the memoized assignment table (one broadcast
    * O(n·k) pass, paid once per corpus); everything after is a
    * ≤256-row cell rollup + a 1-row attach — the monitor costs one
    * scan of the cluster map regardless of corpus size. */
  def codebookDrift(spark: SparkSession, dir: String,
                    byDim: Boolean = false): DataFrame = {
    val isRef =
      if (byDim) element_at(col("embedding"), 1) >= 0f
      else pmod(col("vec_id"), lit(5)) < 3
    val tagged = kmeansAssignments(spark, dir)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("is_ref", isRef)
    val counts = tagged.groupBy(col("cell"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_c"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_c"))
    val tot = counts.agg(sum(col("ref_c")).as("n_ref"),
      sum(col("cur_c")).as("n_cur"), count(lit(1)).as("k_cells"))
    counts.crossJoin(broadcast(tot))
      .withColumn("pr",
        (col("ref_c") + 1).cast("double") / (col("n_ref") + col("k_cells")))
      .withColumn("pc",
        (col("cur_c") + 1).cast("double") / (col("n_cur") + col("k_cells")))
      .withColumn("term",
        round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("k_cells").as("n_cells"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("term")).cast("double").as("psi"))
      .withColumn("psi_floor",
        round((col("n_cells") - 1).cast("double")
          * (lit(1.0) / col("n_ref") + lit(1.0) / col("n_cur")), 6))
      .withColumn("drift_band",
        when(col("psi") < col("psi_floor") * 2, "stable")
          .when(col("psi") < col("psi_floor") * 6, "moderate")
          .otherwise("shifted"))
      .select(col("n_cells"), col("n_ref"), col("n_cur"), col("psi"),
        col("psi_floor"), col("drift_band"))
  }

  def codebookDriftSql(byDim: Boolean = false): String = {
    val refPred = if (byDim) "e.embedding[1] >= 0" else "e.vec_id % 5 < 3"
    s"""WITH $kmeansCtesSql,
       |$kmeansAsgSqlCte,
       |tagged AS (
       |  SELECT k.cell,
       |    CASE WHEN $refPred THEN 1 ELSE 0 END AS is_ref
       |  FROM kasg k JOIN embeddings e USING (vec_id)
       |), counts AS (
       |  SELECT cell, CAST(SUM(is_ref) AS BIGINT) AS ref_c,
       |    CAST(SUM(1 - is_ref) AS BIGINT) AS cur_c
       |  FROM tagged GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(ref_c) AS BIGINT) AS n_ref,
       |    CAST(SUM(cur_c) AS BIGINT) AS n_cur,
       |    COUNT(*) AS k_cells
       |  FROM counts
       |), terms AS (
       |  SELECT k_cells, n_ref, n_cur,
       |    CAST(ROUND((pc - pr) * ln(pc / pr), 6) AS DECIMAL(18,9)) AS term
       |  FROM (
       |    SELECT t.k_cells, t.n_ref, t.n_cur,
       |      (c.ref_c + 1) / CAST(t.n_ref + t.k_cells AS DOUBLE) AS pr,
       |      (c.cur_c + 1) / CAST(t.n_cur + t.k_cells AS DOUBLE) AS pc
       |    FROM counts c, tot t)
       |)
       |SELECT n_cells, n_ref, n_cur, psi, psi_floor,
       |  CASE WHEN psi < psi_floor * 2 THEN 'stable'
       |       WHEN psi < psi_floor * 6 THEN 'moderate'
       |       ELSE 'shifted' END AS drift_band
       |FROM (
       |  SELECT k_cells AS n_cells, n_ref, n_cur,
       |    CAST(SUM(term) AS DOUBLE) AS psi,
       |    ROUND(CAST(k_cells - 1 AS DOUBLE)
       |      * (1.0 / n_ref + 1.0 / n_cur), 6) AS psi_floor
       |  FROM terms GROUP BY 1, 2, 3)""".stripMargin
  }

  private val PqM = 8      // subspaces
  private val PqDsub = 8   // dims per subspace (8 x 8 = 64)
  private val PqCodes = 16 // codewords per subspace

  /** H7 `sim_pq_adc` — product-quantization ANN with asymmetric
    * distance computation (Jégou et al. 2011, public): split each
    * 64-dim vector into PqM subvectors, quantize each to its nearest
    * of PqCodes codewords (so the searchable representation is PqM
    * small code ids — a 64x compression of the stored vector), then
    * score queries by summing per-subspace LUT dot products instead
    * of touching the raw vectors. Everything is exact integer
    * arithmetic on the quantized vectors — codebook pick, L2 argmin
    * (via the cn - 2·dot identity; the ||sub(v)||² term is constant
    * per group), LUT dots, and ADC sums — so ranks hash-match a
    * DuckDB oracle like H4/H6 do.
    *
    * Scale: the codebook is hash-picked (H4 discipline) and tiny
    * (PqM·PqCodes·PqDsub longs, broadcast); encoding is one
    * crossJoin-with-broadcast + a (vec_id, m)-keyed partial-agg
    * argmin; scoring joins the long-format codes against a broadcast
    * LUT (NQueries·PqM·PqCodes rows) and sums per (qid, vec_id). In
    * a real deployment the codes table is precomputed and stored —
    * search then never reads the embedding column at all, which is
    * the entire point of PQ at 100 TB. */
  def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    pqApproxScores(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("approx_dot"))
  }

  /** The PQ-ADC approximate scorer shared by H7 and H12: every
    * (query, corpus vector) pair scored as the sum of per-subspace
    * LUT dots over the vector's codes — (qid, vec_id, approx_dot). */
  private[operators] def pqApproxScores(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val subvec = slice(col("qvec"), col("m") * PqDsub + 1, lit(PqDsub))
    // cached: enc and lut broadcast different projections of the
    // codebook, which defeats exchange reuse — without the cache the
    // hash-pick TakeOrdered over the full corpus runs twice per plan
    val codes = Memo.cached(spark, s"sim.pqcodes:$dir", embSrc(dir))(emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(PqCodes)
      .select(col("vec_id").as("code_id"), col("qvec"))
      .select(col("code_id"),
        explode(typedLit((0 until PqM).toArray)).as("m"), col("qvec"))
      .select(col("code_id"), col("m"), subvec.as("cvec"))
      .withColumn("cn", vdotQuantizedNative(col("cvec"), col("cvec"))))
    val enc = emb.crossJoin(broadcast(codes))
      .withColumn("score",
        col("cn") - lit(2L) * vdotQuantizedNative(subvec, col("cvec")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("score"), col("code_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code_id").as("code_id"))
    val lut = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec"))
      .crossJoin(broadcast(codes.drop("cn")))
      .select(col("qid"), col("m"), col("code_id"),
        vdotQuantizedNative(subvec, col("cvec")).as("pdot"))
    enc.join(broadcast(lut), Seq("m", "code_id"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pdot")).as("approx_dot"))
  }

  /** The CTE chain shared by H7's and H12's oracles: ends in
    * `scored(qid, vec_id, approx_dot)` — the SQL twin of
    * [[pqApproxScores]]. */
  private[operators] def pqScoredCtes: String =
    s"""$qnSqlCte, cb AS (
       |  SELECT vec_id AS code_id, qvec FROM qnn
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqCodes
       |), codes AS (
       |  SELECT code_id, m, qvec[m*$PqDsub+1 : m*$PqDsub+$PqDsub] AS cvec
       |  FROM cb CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |), codes2 AS (
       |  SELECT code_id, m, cvec,
       |    CAST(list_sum(list_transform(cvec, x -> x * x)) AS BIGINT) AS cn
       |  FROM codes
       |), enc AS (
       |  SELECT vec_id, m, code_id FROM (
       |    SELECT e.vec_id, c.m, c.code_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
       |        ORDER BY c.cn - 2 * ${dotSql(
                  s"e.qvec[c.m*$PqDsub+1 : c.m*$PqDsub+$PqDsub]", "c.cvec")},
       |                 c.code_id) AS rn
       |    FROM qnn e CROSS JOIN codes2 c
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS qid, c.m, c.code_id,
       |    ${dotSql(s"q.qvec[c.m*$PqDsub+1 : c.m*$PqDsub+$PqDsub]", "c.cvec")} AS pdot
       |  FROM qnn q CROSS JOIN codes2 c WHERE q.vec_id < $NQueries
       |), scored AS (
       |  SELECT l.qid, e.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS approx_dot
       |  FROM enc e JOIN lut l ON e.m = l.m AND e.code_id = l.code_id
       |  WHERE e.vec_id <> l.qid
       |  GROUP BY 1, 2
       |)""".stripMargin

  def pqAdcSql: String =
    s"""WITH $pqScoredCtes
       |SELECT qid, rank, vec_id, approx_dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY approx_dot DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin

  /** H13 `sim_sq8` — scalar-quantization (SQ8) search, the third
    * compression family next to IVF partitioning and PQ codes (the
    * FAISS ScalarQuantizer shape, public): every dimension is
    * symmetrically quantized to an 8-bit code c = round(x·127/absmax)
    * with ONE corpus-wide scale, so dot(codes) =
    * (127/absmax)²·dot(x) up to rounding — rank-preserving in the
    * limit, 4x smaller storage, and the scoring pass is the same
    * integer dot kernel as H1 on narrower values. absmax is a 1-row
    * aggregate broadcast (never a per-dim table, which would distort
    * the dot with per-dim scales); codes are exact integers so ranks
    * hash-match the oracle. Scale: one corpus pass to build codes
    * (stored, in a real deployment), one broadcast-queries pass to
    * score — H1's economics at a quarter the bytes. */
  def sq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val docMax = emb.select(col("vec_id"),
      aggregate(col("embedding"), lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast("double")))).as("dmax"))
    val absmax = docMax.agg(max(col("dmax")).as("absmax"))
    val codes = emb.crossJoin(broadcast(absmax))
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 127.0 / col("absmax")).cast("long"))
        .as("cvec"))
    val q = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("cvec").as("qc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qc"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("dot"))
  }

  def sq8Sql: String =
    s"""WITH am AS (
       |  SELECT MAX(list_max(list_transform(embedding,
       |    x -> ABS(CAST(x AS DOUBLE))))) AS absmax
       |  FROM embeddings
       |), codes AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / absmax) AS BIGINT)) AS cvec
       |  FROM embeddings CROSS JOIN am
       |), q AS (
       |  SELECT vec_id AS qid, cvec AS qc FROM codes WHERE vec_id < $NQueries
       |), d AS (
       |  SELECT qid, vec_id, ${dotSql("qc", "cvec")} AS dot
       |  FROM codes JOIN q ON vec_id <> qid
       |)
       |SELECT qid, rank, vec_id, dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY dot DESC, vec_id) AS rank
       |  FROM d
       |) WHERE rank <= $K""".stripMargin

  private val BqBits = 60
  private val BqCand = 30

  /** 60-bit sign fingerprint of a quantized vector (bit i set iff
    * component i >= 0, dims 0..59 — 60 bits keep the value positive
    * in both engines, the G5/G18 convention). */
  private def bqExpr(colName: String): Column =
    expr(s"""aggregate(
      zip_with(slice($colName, 1, $BqBits), sequence(0, ${BqBits - 1}),
        (x, i) -> IF(x >= 0, shiftleft(CAST(1 AS BIGINT), i),
                     CAST(0 AS BIGINT))),
      CAST(0 AS BIGINT), (a, v) -> a + v)""")

  private def bqSql(col: String): String =
    s"""CAST(list_sum(list_transform(
       |    list_zip($col[1:$BqBits], range(0, $BqBits)),
       |    s -> CASE WHEN s[1] >= 0 THEN (CAST(1 AS BIGINT) << s[2])
       |              ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  /** H16 `sim_binary_quantized` — 1-bit (sign) binary quantization
    * with exact re-rank: the "binary quantization + rescore" mode
    * production vector stores ship (sign-bit hashing per
    * Charikar'02 with identity hyperplanes). Each 64-dim vector
    * compresses to a 60-bit sign fingerprint; candidate generation is
    * a hamming scan over 8-byte fingerprints (32x smaller than the
    * float vectors), keeping the BqCand closest per query; only those
    * are re-ranked by the exact integer cosine. All integer
    * arithmetic — candidates and final ranks hash-match the oracle.
    *
    * Scale: the full pass reads (vec_id, fingerprint) only — a
    * map-side bit_count against the broadcast probe set; the re-rank
    * fetches raw vectors for NQueries*BqCand ids via a BROADCAST of
    * the bounded candidate list into the corpus scan (exactly how a
    * vector store rescores from its id->vector store). Two exchanges
    * total (the two per-query windows). */
  def binaryQuantized(spark: SparkSession, dir: String): DataFrame = {
    val fps = quantized(spark, dir)
      .select(col("vec_id"), col("qvec"), col("nsq"), bqExpr("qvec").as("bq"))
    val q = fps.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"),
        col("nsq").as("qn"), col("bq").as("qbq"))
    val wH = Window.partitionBy(col("qid")).orderBy(col("hamming"), col("vec_id"))
    val cands = fps.select(col("vec_id"), col("bq"))
      .join(broadcast(q.select(col("qid"), col("qbq"))), col("vec_id") =!= col("qid"))
      .withColumn("hamming", bit_count(col("bq").bitwiseXOR(col("qbq"))).cast("long"))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= BqCand)
      .select(col("qid"), col("vec_id"), col("hamming"))
    val wC = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    fps.select(col("vec_id"), col("qvec"), col("nsq"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(q.select(col("qid"), col("qq"), col("qn"))), Seq("qid"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qq"), col("qvec")), col("qn"), col("nsq")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("hamming"), col("cosine"))
  }

  def binaryQuantizedSql: String =
    s"""WITH $qnSqlCte, fp AS (
       |  SELECT vec_id, qvec, nsq, ${bqSql("qvec")} AS bq
       |  FROM qnn
       |), q AS (
       |  SELECT vec_id AS qid, qvec AS qq, nsq AS qn, bq AS qbq
       |  FROM fp WHERE vec_id < $NQueries
       |), h AS (
       |  SELECT qid, vec_id,
       |    CAST(bit_count(xor(bq, qbq)) AS BIGINT) AS hamming
       |  FROM fp JOIN q ON vec_id <> qid
       |), cand AS (
       |  SELECT qid, vec_id, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                                 ORDER BY hamming, vec_id) AS hrank
       |    FROM h
       |  ) WHERE hrank <= $BqCand
       |), scored AS (
       |  SELECT c.qid, c.vec_id, c.hamming,
       |    ${cosSql(dotSql("q.qq", "f.qvec"), "q.qn", "f.nsq")} AS cosine
       |  FROM cand c
       |  JOIN fp f ON f.vec_id = c.vec_id
       |  JOIN q ON q.qid = c.qid
       |)
       |SELECT qid, rank, vec_id, hamming, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin

  /** H15 `sim_ivfpq_residual` — the combined IVF-PQ index with
    * residual encoding: FAISS's production `IndexIVFPQ` shape
    * (Jégou et al. 2011 §IV, public), which neither H6 (IVF over raw
    * vectors) nor H7 (PQ over the whole space) models alone. Each
    * vector is assigned to its nearest coarse centroid and only the
    * RESIDUAL (vector − centroid) is PQ-encoded — residuals are
    * smaller and more isotropic than raw vectors, which is why the
    * combination quantizes better than PQ alone. Inner-product ADC
    * decomposes exactly: dot(q, c + r̂) = dot(q, c) + Σ_m LUT[m, code],
    * so the served score is the centroid dot (computed once per
    * probed cell) plus the usual per-subspace LUT sums. All integer
    * arithmetic (long residuals, long dots), so ranks hash-match the
    * unrolled DuckDB oracle.
    *
    * Scale: the search never touches raw vectors — the scan side is
    * (vec_id, cell, 8 code ids), the probe and LUT sides are bounded
    * broadcasts (NQueries·NProbeCells and NQueries·PqM·PqCodes rows),
    * and only cells the query probes are scored (the inverted-file
    * restriction rides the broadcast-hash join on `cell`). In a real
    * deployment the assignment+encoding pass is a one-off write of
    * the codes table (H7's note applies doubly: 64x compression AND
    * cell-pruned scans); the residual codebook is trained on a
    * sample. Encoding cost here is one assignment window + one
    * broadcast argmin — the same two-pass economics as H6+H7. */
  def ivfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val k = ivfK(spark, dir, emb)
    val cents = emb.orderBy(md5(col("vec_id").cast("string"))).limit(k)
      .select(col("vec_id").as("cent_id"), col("qvec").as("cq"), col("nsq").as("cn"))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        cosineQ(vdotQuantizedNative(col("qvec"), col("cq")), col("nsq"), col("cn")))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"),
        zip_with(col("qvec"), col("cq"), (a, b) => a - b).as("rvec"))
    def sub(v: Column): Column = slice(v, col("m") * PqDsub + 1, lit(PqDsub))
    // residual codebook: hash-picked residual rows, per-subspace split
    // (bounded: PqCodes x PqM rows; cached because enc and lut
    // broadcast different projections of it — the H7 discipline)
    val rcb = Memo.cached(spark, s"sim.rpqcodes:$dir", embSrc(dir))(assigned
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(PqCodes)
      .select(col("vec_id").as("code_id"),
        explode(typedLit((0 until PqM).toArray)).as("m"), col("rvec"))
      .select(col("code_id"), col("m"), sub(col("rvec")).as("cvec"))
      .withColumn("cn", vdotQuantizedNative(col("cvec"), col("cvec"))))
    val enc = assigned.crossJoin(broadcast(rcb))
      .withColumn("score",
        col("cn") - lit(2L) * vdotQuantizedNative(sub(col("rvec")), col("cvec")))
      .groupBy(col("vec_id"), col("cell"), col("m"))
      .agg(min(struct(col("score"), col("code_id"))).as("best"))
      .select(col("vec_id"), col("cell"), col("m"), col("best.code_id").as("code_id"))
    val wP = Window.partitionBy(col("qid"))
      .orderBy(col("qcent_cos").desc, col("cent_id"))
    val probes = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"), col("nsq").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("qcent_cos",
        cosineQ(vdotQuantizedNative(col("qq"), col("cq")), col("qn"), col("cn")))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= NProbeCells)
      .select(col("qid"), col("cent_id").as("cell"),
        vdotQuantizedNative(col("qq"), col("cq")).as("cdot"))
    val lut = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec"))
      .crossJoin(broadcast(rcb.drop("cn")))
      .select(col("qid"), col("m"), col("code_id"),
        vdotQuantizedNative(sub(col("qvec")), col("cvec")).as("pdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("approx_dot").desc, col("vec_id"))
    enc.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "m", "code_id"))
      .groupBy(col("qid"), col("vec_id"), col("cell"))
      .agg((min(col("cdot")) + sum(col("pdot"))).as("approx_dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("approx_dot"), col("cell"))
  }

  def ivfPqResidualSql: String =
    s"""WITH $qnSqlCte, cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM qnn ORDER BY md5(CAST(vec_id AS VARCHAR))
       |  LIMIT (SELECT CAST(GREATEST(8, LEAST($MaxCentroids,
       |           CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM embeddings)
       |), assigned AS (
       |  SELECT vec_id, cell, rvec FROM (
       |    SELECT e.vec_id, c.cent_id AS cell,
       |      list_transform(list_zip(e.qvec, c.cq), s -> s[1] - s[2]) AS rvec,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |  ) WHERE arn = 1
       |), rcb0 AS (
       |  SELECT vec_id AS code_id, rvec FROM assigned
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqCodes
       |), rcb AS (
       |  SELECT code_id, m,
       |    rvec[m*$PqDsub+1 : m*$PqDsub+$PqDsub] AS cvec,
       |    CAST(list_sum(list_transform(rvec[m*$PqDsub+1 : m*$PqDsub+$PqDsub],
       |      x -> x * x)) AS BIGINT) AS cn
       |  FROM rcb0 CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |), enc AS (
       |  SELECT vec_id, cell, m, code_id FROM (
       |    SELECT a.vec_id, a.cell, c.m, c.code_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id, c.m
       |        ORDER BY c.cn - 2 * ${dotSql(
                  s"a.rvec[c.m*$PqDsub+1 : c.m*$PqDsub+$PqDsub]", "c.cvec")},
       |                 c.code_id) AS rn
       |    FROM assigned a CROSS JOIN rcb c
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT qid, cell, cdot FROM (
       |    SELECT e.vec_id AS qid, c.cent_id AS cell,
       |      ${dotSql("e.qvec", "c.cq")} AS cdot,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql(dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS prn
       |    FROM qnn e CROSS JOIN cents c WHERE e.vec_id < $NQueries
       |  ) WHERE prn <= $NProbeCells
       |), lut AS (
       |  SELECT q.vec_id AS qid, c.m, c.code_id,
       |    ${dotSql(s"q.qvec[c.m*$PqDsub+1 : c.m*$PqDsub+$PqDsub]", "c.cvec")} AS pdot
       |  FROM qnn q CROSS JOIN rcb c WHERE q.vec_id < $NQueries
       |), scored AS (
       |  SELECT p.qid, e.vec_id, e.cell,
       |    CAST(MIN(p.cdot) + SUM(l.pdot) AS BIGINT) AS approx_dot
       |  FROM enc e
       |  JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.qid
       |  JOIN lut l ON l.qid = p.qid AND l.m = e.m AND l.code_id = e.code_id
       |  GROUP BY 1, 2, 3
       |)
       |SELECT qid, rank, vec_id, approx_dot, cell FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY approx_dot DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin

  private val RerankC = 30

  /** H12 `sim_rerank_pipeline` — the two-stage retrieval pipeline
    * every production vector store actually runs (candidate
    * generation + exact re-rank; the deployment shape Jégou'11 and
    * the ColBERT paper both assume): stage 1 scores the whole corpus
    * with H7's PQ-ADC approximation (LUT sums over 8 code ids — never
    * touches the raw vectors), keeps the top [[RerankC]] candidates
    * per query; stage 2 fetches ONLY those candidates' real vectors
    * and re-ranks them by the exact integer cosine, emitting the top
    * [[K]]. `approx_rank` is carried through so the output shows the
    * reordering the exact pass applied.
    *
    * Scale: stage 1 is H7's code-table scan (64x smaller than the
    * vectors); stage 2's vector fetch is NQueries*[[RerankC]] rows —
    * the candidate set is broadcast against the corpus, so the
    * expensive full-dim dot runs on a bounded set no matter the
    * corpus size. That asymmetry (cheap scan everywhere, exact math
    * on a bounded set) is the entire economics of ANN at 100 TB. */
  def rerankPipeline(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    val cand = pqApproxScores(spark, dir)
      .withColumn("approx_rank", row_number().over(wApprox))
      .filter(col("approx_rank") <= RerankC)
      .select(col("qid"), col("vec_id"), col("approx_rank"))
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"), col("nsq").as("qn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qq"), col("qvec")), col("qn"), col("nsq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"),
        col("approx_rank"))
  }

  def rerankPipelineSql: String =
    s"""WITH $pqScoredCtes, cand AS (
       |  SELECT qid, vec_id, approx_rank FROM (
       |    SELECT qid, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |                         ORDER BY approx_dot DESC, vec_id) AS approx_rank
       |    FROM scored
       |  ) WHERE approx_rank <= $RerankC
       |), rr AS (
       |  SELECT c.qid, c.vec_id, c.approx_rank,
       |    ${cosSql(dotSql("q.qvec", "d.qvec"), "q.nsq", "d.nsq")} AS cosine
       |  FROM cand c
       |  JOIN qnn d ON d.vec_id = c.vec_id
       |  JOIN qnn q ON q.vec_id = c.qid
       |)
       |SELECT qid, rank, vec_id, cosine, approx_rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                               ORDER BY cosine DESC, vec_id) AS rank
       |  FROM rr
       |) WHERE rank <= $K""".stripMargin

  /** H5 `sim_recall_eval` — recall@K of the three ANN paths against the
    * brute-force ground truth, per query: the evaluation loop every
    * real ANN deployment runs before trusting an index. Everything is
    * deterministic (quantized cosines, fixed probes), so even the
    * recall numbers are oracle-checkable. Scale: ground truth on a
    * SAMPLE of queries (here all NQueries) joined against the index
    * results — tiny compared to the index build itself. */
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    // cached: the ground-truth subtree feeds qids and BOTH per-method
    // joins — without the cache the brute-force join + top-K window
    // re-executes per branch (ReuseExchange dedups only the shuffle)
    val bf = truth(spark, dir)
    val qids = bf.select(col("qid")).distinct()
    def per(m: DataFrame, name: String): DataFrame = {
      val hits = bf.join(m.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qids.join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(name).as("method"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }
    per(lshAnn(spark, dir), "lsh")
      .unionAll(per(ivfProbe(spark, dir), "ivf"))
      .unionAll(per(ivfKmeans(spark, dir), "ivf_kmeans"))
      .unionAll(per(pqAdc(spark, dir), "pq"))
      .unionAll(per(sq8(spark, dir), "sq8"))
      .unionAll(per(binaryQuantized(spark, dir), "bq"))
      .withColumn("recall_at_k", col("hits").cast("double") / K)
  }

  def recallEvalSql: String =
    s"""WITH bf AS (SELECT qid, vec_id FROM ($topkBruteforceSql)),
       |lshr AS (SELECT qid, vec_id FROM ($lshAnnSql)),
       |ivfr AS (SELECT qid, vec_id FROM ($ivfProbeSql)),
       |ivfk AS (SELECT qid, vec_id FROM ($ivfKmeansSql)),
       |pqr AS (SELECT qid, vec_id FROM ($pqAdcSql)),
       |sqr AS (SELECT qid, vec_id FROM ($sq8Sql)),
       |bqr AS (SELECT qid, vec_id FROM ($binaryQuantizedSql)),
       |qids AS (SELECT DISTINCT qid FROM bf),
       |hl AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN lshr l ON b.qid = l.qid AND b.vec_id = l.vec_id GROUP BY 1),
       |hi AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN ivfr i ON b.qid = i.qid AND b.vec_id = i.vec_id GROUP BY 1),
       |hk AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN ivfk k ON b.qid = k.qid AND b.vec_id = k.vec_id GROUP BY 1),
       |hp AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN pqr p ON b.qid = p.qid AND b.vec_id = p.vec_id GROUP BY 1),
       |hs AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN sqr s ON b.qid = s.qid AND b.vec_id = s.vec_id GROUP BY 1),
       |hb AS (SELECT b.qid, COUNT(*) AS hits FROM bf b
       |       JOIN bqr x ON b.qid = x.qid AND b.vec_id = x.vec_id GROUP BY 1)
       |SELECT qid, method, hits,
       |  CAST(hits AS DOUBLE) / $K AS recall_at_k
       |FROM (
       |  SELECT q.qid, 'lsh' AS method, COALESCE(hl.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hl ON q.qid = hl.qid
       |  UNION ALL
       |  SELECT q.qid, 'ivf' AS method, COALESCE(hi.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hi ON q.qid = hi.qid
       |  UNION ALL
       |  SELECT q.qid, 'ivf_kmeans' AS method, COALESCE(hk.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hk ON q.qid = hk.qid
       |  UNION ALL
       |  SELECT q.qid, 'pq' AS method, COALESCE(hp.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hp ON q.qid = hp.qid
       |  UNION ALL
       |  SELECT q.qid, 'sq8' AS method, COALESCE(hs.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hs ON q.qid = hs.qid
       |  UNION ALL
       |  SELECT q.qid, 'bq' AS method, COALESCE(hb.hits, 0) AS hits
       |  FROM qids q LEFT JOIN hb ON q.qid = hb.qid
       |)""".stripMargin

  /** H17 `sim_mrl_eval` — Matryoshka truncation evaluation
    * (Kusupati et al. 2022, MRL — public): recall@K of brute-force
    * search over PREFIX-TRUNCATED embeddings (first d/2, d/4 dims)
    * against the full-dimension ground truth — the dimension-vs-
    * recall curve that decides how far an MRL-trained embedding can
    * be cut for the memory/latency win. Truncation is an array
    * slice of the already-quantized vectors (no re-quantization, so
    * the truncated dot is exactly the full dot restricted to the
    * prefix); scoring/ranking reuses H1's integer-dot + deterministic
    * tie-break, so even the recall numbers hash cross-engine.
    * Scale: per fraction, one corpus pass against the broadcast
    * truncated queries (H1's shape, on shorter vectors — the scan is
    * proportionally cheaper); the ground-truth subtree is cached and
    * reused by every fraction's hit join. */
  def mrlEval(spark: SparkSession, dir: String,
              fracs: Seq[Int] = Seq(2, 4)): DataFrame = {
    val emb = quantized(spark, dir)
    // cached: feeds qids + one hit-join per fraction (H5's discipline)
    val bf = truth(spark, dir)
    val qids = bf.select(col("qid")).distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    val per = fracs.map { f =>
      val t = emb.select(col("vec_id"),
        expr(s"slice(qvec, 1, size(qvec) div $f)").as("tvec"))
      val q = t.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("tvec").as("qt"))
      val topk = t.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("dot", vdotQuantizedNative(col("qt"), col("tvec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"))
      val hits = bf.join(topk, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      qids.join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(s"d/$f").as("method"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }
    per.reduce(_.unionAll(_))
      .withColumn("recall_at_k", col("hits").cast("double") / K)
  }

  def mrlEvalSql(fracs: Seq[Int] = Seq(2, 4)): String = {
    val perF = fracs.map { f =>
      s"""t$f AS (
         |  SELECT vec_id, qvec[1:len(qvec)//$f] AS tvec FROM qnn
         |), k$f AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        ${dotSql("q.qt", "e.tvec")} DESC, e.vec_id) AS rank
         |    FROM (SELECT vec_id AS qid, tvec AS qt FROM t$f
         |          WHERE vec_id < $NQueries) q
         |    JOIN t$f e ON e.vec_id <> q.qid
         |  ) WHERE rank <= $K
         |), h$f AS (
         |  SELECT b.qid, COUNT(*) AS hits FROM bf b
         |  JOIN k$f t ON b.qid = t.qid AND b.vec_id = t.vec_id GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    val unions = fracs.map { f =>
      s"""  SELECT q.qid, 'd/$f' AS method, COALESCE(h$f.hits, 0) AS hits
         |  FROM qids q LEFT JOIN h$f ON q.qid = h$f.qid""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $qnSqlCte, bf AS (SELECT qid, vec_id FROM ($topkBruteforceSql)),
       |qids AS (SELECT DISTINCT qid FROM bf), $perF
       |SELECT qid, method, hits,
       |  CAST(hits AS DOUBLE) / $K AS recall_at_k
       |FROM (
       |$unions
       |)""".stripMargin
  }

  private val SubVecs = 4
  private val SubDim = 16

  /** H8 `sim_maxsim_multivec` — multi-vector late-interaction scoring
    * (the MaxSim operator of ColBERT, Khattab & Zaharia 2020 —
    * public): each 64-dim embedding is treated as [[SubVecs]]
    * sub-vectors of [[SubDim]] dims (the stand-in for per-token
    * embeddings); score(q, d) = sum over query sub-vectors of the max
    * dot product against any doc sub-vector. Top-K per query with
    * deterministic tie-break. All-integer dots on quantized
    * sub-vectors -> exact cross-engine ranks. Scale: the doc side
    * explodes by a constant [[SubVecs]] (bounded), the query side is
    * a broadcast of NQueries*[[SubVecs]] rows, and both aggregations
    * partial-agg map-side. Like H1 this exact scorer is the
    * correctness baseline: a 100 TB deployment runs per-sub-vector
    * ANN (H3/H7 per segment) to generate candidates and this MaxSim
    * as the re-rank over the candidate set only. */
  def maxsimMultivec(spark: SparkSession, dir: String): DataFrame = {
    val segArr = array((0 until SubVecs).map(i =>
      struct(lit(i).as("seg_i"),
        slice(col("qvec"), i * SubDim + 1, SubDim).as("seg"))): _*)
    val segs = quantized(spark, dir)
      .select(col("vec_id"), explode(segArr).as("s"))
      .select(col("vec_id"), col("s.seg_i").as("seg_i"), col("s.seg").as("seg"))
    val q = segs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("seg_i").as("qi"), col("seg").as("qseg"))
    val perQSeg = segs.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qseg"), col("seg")))
      .groupBy(col("qid"), col("vec_id"), col("qi"))
      .agg(max(col("dot")).as("m"))
    val score = perQSeg.groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("m")).as("maxsim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("maxsim").desc, col("vec_id"))
    score.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("maxsim"))
  }

  def maxsimMultivecSql: String =
    s"""WITH $qnSqlCte, segs AS (
       |  SELECT vec_id, i AS seg_i,
       |    qvec[(i*$SubDim+1):(i*$SubDim+$SubDim)] AS seg
       |  FROM qnn CROSS JOIN (SELECT unnest(range(0, $SubVecs)) AS i)
       |), per_qseg AS (
       |  SELECT q.vec_id AS qid, d.vec_id, q.seg_i AS qi,
       |    MAX(${dotSql("q.seg", "d.seg")}) AS m
       |  FROM segs q JOIN segs d ON d.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2, 3
       |), score AS (
       |  SELECT qid, vec_id, CAST(SUM(m) AS BIGINT) AS maxsim
       |  FROM per_qseg GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, vec_id, maxsim,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |                       ORDER BY maxsim DESC, vec_id) AS rank
       |  FROM score
       |)
       |SELECT qid, rank, vec_id, maxsim FROM ranked WHERE rank <= $K""".stripMargin

  private val RangeTau = 0.2

  /** H9 `sim_range_search` — range (radius) search, the other standard
    * vector-store query shape next to top-k: ALL corpus vectors with
    * cosine >= [[RangeTau]] of each query vector, however many there
    * are. Same integer-quantized cosine as H2-H4 (bit-identical
    * cross-engine, so even the similarity values hash-match). Scale:
    * same shape as H1 — queries broadcast, one streaming pass over
    * the corpus, no per-query state; the 100 TB path prunes
    * candidates with the H3/H4 buckets first and range-checks only
    * the candidate set. */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"), col("nsq").as("qn"))
    emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("qq"), col("qvec")), col("qn"), col("nsq")))
      .filter(col("cosine") >= RangeTau)
      .select(col("qid"), col("vec_id"), col("cosine"))
  }

  def rangeSearchSql: String =
    s"""WITH $qnSqlCte, q AS (
       |  SELECT vec_id AS qid, qvec AS qq, nsq AS qn
       |  FROM qnn WHERE vec_id < $NQueries
       |)
       |SELECT qid, vec_id,
       |  ${cosSql(dotSql("qq", "qvec"), "qn", "nsq")} AS cosine
       |FROM qnn JOIN q ON vec_id <> qid
       |WHERE ${cosSql(dotSql("qq", "qvec"), "qn", "nsq")} >= $RangeTau""".stripMargin

  /** H10 `sim_filtered_search` — metadata-filtered ("hybrid") search:
    * top-k per query among vectors whose document passes a metadata
    * predicate (lang = 'en'), the filter+vector query every vector
    * store serves. The predicate applies BEFORE scoring (a left_semi
    * against the qualifying id set), so only qualifying vectors are
    * scored — the hybrid-search analogue of predicate pushdown; at
    * 100 TB the id set comes from the metadata index and AQE picks
    * broadcast vs shuffle for the semi join. Scoring/ranking is H1's
    * exact integer path. */
  def filteredSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = quantized(spark, dir)
    val enIds = Tables.documents(spark, dir)
      .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("qvec").as("qq"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    emb.join(enIds, Seq("vec_id"), "left_semi")
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("dot"))
  }

  def filteredSearchSql: String =
    s"""WITH $qnSqlCte, en AS (
       |  SELECT qnn.* FROM qnn JOIN documents ON vec_id = doc_id
       |  WHERE lang = 'en'
       |), q AS (
       |  SELECT vec_id AS qid, qvec AS qq FROM qnn WHERE vec_id < $NQueries
       |), d AS (
       |  SELECT qid, vec_id, ${dotSql("qq", "qvec")} AS dot
       |  FROM en JOIN q ON vec_id <> qid
       |), ranked AS (
       |  SELECT qid, vec_id, dot,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, vec_id, dot FROM ranked WHERE rank <= $K""".stripMargin

  /** H11 `sim_pooled_search` — chunk-embedding mean pooling + doc-level
    * retrieval, the standard RAG shape (chunk embeddings pooled to one
    * doc vector; retrieval runs at doc granularity, chunk re-rank
    * after): each vector's [[SubVecs]] sub-vectors play the chunk
    * embeddings (H8's framing), pooled by element-wise FLOOR-mean in
    * exact integer arithmetic (the H6 centroid-rebuild discipline —
    * deterministic cross-engine, unlike float means), then top-k by
    * integer dot over the pooled 16-dim vectors. Scale: pooling is a
    * narrow per-row transform (no shuffle — the chunks of a doc are
    * already colocated in its row; in a chunk-table layout it is one
    * doc-keyed partial agg), search is H1's broadcast-queries pass at
    * 1/[[SubVecs]] the dimensionality. */
  def pooledSearch(spark: SparkSession, dir: String): DataFrame = {
    val segs = (0 until SubVecs).map(i =>
      slice(col("qvec"), i * SubDim + 1, SubDim))
    // element-wise floor-mean of the SubVecs chunk vectors
    val pooled = transform(segs.reduce((a, b) => zip_with(a, b, _ + _)),
      x => floor(x / SubVecs).cast("long"))
    val docs = quantized(spark, dir)
      .select(col("vec_id"), pooled.as("pv"))
    val q = docs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("pv").as("qp"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    docs.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", vdotQuantizedNative(col("qp"), col("pv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("vec_id"), col("dot"))
  }

  def pooledSearchSql: String = {
    val seg = (i: Int) => s"qvec[(${i} * $SubDim + 1):(${i} * $SubDim + $SubDim)]"
    val summed = (1 until SubVecs).foldLeft(seg(0)) { (acc, i) =>
      s"list_transform(list_zip($acc, ${seg(i)}), s -> s[1] + s[2])"
    }
    s"""WITH $qnSqlCte, pooled AS (
       |  SELECT vec_id,
       |    list_transform($summed,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) / $SubVecs) AS BIGINT)) AS pv
       |  FROM qnn
       |), q AS (
       |  SELECT vec_id AS qid, pv AS qp FROM pooled WHERE vec_id < $NQueries
       |), d AS (
       |  SELECT qid, vec_id, ${dotSql("qp", "pv")} AS dot
       |  FROM pooled JOIN q ON vec_id <> qid
       |), ranked AS (
       |  SELECT qid, vec_id, dot,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
       |  FROM d
       |)
       |SELECT qid, rank, vec_id, dot FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** H14 `sim_hybrid_rrf` — reciprocal-rank-fusion hybrid retrieval
    * (Cormack et al. 2009, the fusion every production hybrid-search
    * stack ships): the LEXICAL candidate list (I13's BM25 top-50 over
    * the documents corpus) and the VECTOR candidate list (integer-
    * quantized cosine top-50 for query vec 0 — H1's kernel) are fused
    * by `rrf = Σ 1/(60 + rank)`, treating doc_id and vec_id as the
    * same corpus key (the tables are parallel views of one corpus).
    * A doc missing from one list contributes 0 from that list — the
    * standard RRF convention — so the fusion is a FULL OUTER join of
    * two bounded candidate sets, never a corpus-sized operation.
    *
    * Determinism: ranks are exact ints; each 1/(60+rank) is one IEEE
    * division of exact inputs and the sum is a fixed two-term
    * expression — bit-identical across engines (rounded to 6 dp for
    * reporting). Scale: both candidate lists are distributed
    * TakeOrdered top-50s; the fusion is a UNION + one tiny groupBy
    * (cheaper than a full-outer join — one exchange of ≤2·depth
    * rows), and the final top-10 is another TakeOrdered. */
  def hybridRrf(spark: SparkSession, dir: String,
                terms: Seq[String] = Seq("vector", "scan", "merge"),
                qid: Long = 0L, depth: Int = 50, k: Int = 10): DataFrame = {
    val lex = TextAnalysis.bm25TopK(spark, dir, terms, depth)
      .select(col("doc_id").as("id"), col("rank").as("lex_rank"),
        lit(null).cast("int").as("vec_rank"))
    val emb = quantized(spark, dir)
    val q = emb.filter(col("vec_id") === qid).select(col("qvec").as("qq"))
    // constant partition key: ranks run over TakeOrdered-bounded sets
    // (depth rows / k rows), single-partition by design
    val wv = Window.partitionBy(Obs.onePart(col("vec_id")))
      .orderBy(col("dot").desc, col("vec_id"))
    val vec = emb.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .withColumn("dot", vdotQuantizedNative(col("qq"), col("qvec")))
      .orderBy(col("dot").desc, col("vec_id")).limit(depth)
      .withColumn("vec_rank", row_number().over(wv))
      .select(col("vec_id").as("id"), lit(null).cast("int").as("lex_rank"),
        col("vec_rank"))
    val wr = Window.partitionBy(Obs.onePart(col("id")))
      .orderBy(col("rrf").desc, col("id"))
    lex.unionByName(vec)
      .groupBy(col("id"))
      .agg(max(col("lex_rank")).as("lex_rank"), max(col("vec_rank")).as("vec_rank"))
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("id")).limit(k)
      .withColumn("rank", row_number().over(wr))
      .select(col("rank"), col("id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
  }

  def hybridRrfSql(terms: Seq[String] = Seq("vector", "scan", "merge"),
                   qid: Long = 0L, depth: Int = 50, k: Int = 10): String =
    s"""WITH lex AS (
       |  SELECT doc_id AS l_id, lex_rank FROM (
       |    SELECT doc_id, rank AS lex_rank
       |    FROM (${TextAnalysis.bm25TopKSql(terms, depth)})
       |  )
       |), vq AS (
       |  SELECT list_transform(embedding,
       |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qq
       |  FROM embeddings WHERE vec_id = $qid
       |), c AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qvec
       |  FROM embeddings WHERE vec_id <> $qid
       |), vd AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(qq, qvec), s -> s[1] * s[2]))
       |      AS BIGINT) AS dot
       |  FROM c CROSS JOIN vq
       |), vec AS (
       |  SELECT vec_id AS v_id, vec_rank FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY dot DESC, vec_id) AS vec_rank
       |    FROM vd
       |  ) WHERE vec_rank <= $depth
       |), fused AS (
       |  SELECT COALESCE(l_id, v_id) AS id, lex_rank, vec_rank,
       |    ROUND(
       |      COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + lex_rank AS DOUBLE), 0.0)
       |      + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + vec_rank AS DOUBLE), 0.0),
       |      6) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON l_id = v_id
       |)
       |SELECT rank, id, rrf, lex_rank, vec_rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rank FROM fused
       |) WHERE rank <= $k""".stripMargin

  /** H19 `sim_knn_graph` — the k-NN GRAPH over the WHOLE corpus
    * (every vector is a query): the all-to-all retrieval behind
    * SemDeDup/G13-style semantic clustering and graph-based index
    * builds, and the one H-family shape where the query side is
    * CORPUS-sized — nothing can broadcast (H1/H3 broadcast a bounded
    * query set; here both sides are the corpus). Candidates come from
    * LSH blocking: a bucket-keyed SELF-join (both sides
    * hash-partitioned on the same [[bucketCol]] sign-bits — a
    * co-partitioned equi join at any scale), then the per-node top-k
    * window runs on the src key. Nodes alone in their bucket have no
    * candidates and are absent — the standard LSH-blocking contract
    * (same as G4's bands); the oracle replays identical semantics so
    * even absence hash-matches.
    *
    * Scale: per-bucket work is |b|² — at 100 TB, NPlanes grows with
    * the corpus (bucket population targets a per-task candidate
    * budget: 2^planes cells ≈ n/budget) and hot buckets split under
    * AQE skew handling; output is n·k rows by definition (a graph
    * materialization, not a serve). Cosines are the H1 integer-dot
    * kernel — exact BIGINT dots, one double division, deterministic
    * ties by (cosine desc, dst). */
  def knnGraph(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val emb = quantized(spark, dir).withColumn("bucket", bucketCol(col("qvec")))
    val lhs = emb.select(col("vec_id").as("src"), col("qvec").as("sq"),
      col("nsq").as("sn"), col("bucket"))
    val rhs = emb.select(col("vec_id").as("dst"), col("qvec").as("dq"),
      col("nsq").as("dn"), col("bucket"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    lhs.join(rhs, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        cosineQ(vdotQuantizedNative(col("sq"), col("dq")), col("sn"), col("dn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"), col("cosine"))
  }

  def knnGraphSql(k: Int = K): String =
    s"""WITH $qnSqlCte, b AS (
       |  SELECT vec_id, qvec, nsq, ${bucketSql("qvec")} AS bucket FROM qnn
       |), cand AS (
       |  SELECT s.vec_id AS src, c.vec_id AS dst,
       |    ${cosSql(dotSql("s.qvec", "c.qvec"), "s.nsq", "c.nsq")} AS cosine
       |  FROM b s JOIN b c ON c.bucket = s.bucket AND c.vec_id <> s.vec_id
       |)
       |SELECT src, rank, dst, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |                               ORDER BY cosine DESC, dst) AS rank
       |  FROM cand
       |) WHERE rank <= $k""".stripMargin

  private val annServeSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** H4t `stream_ann_serve` — the STREAMING ANN serve, run to
    * completion as a batch-callable query (the r12 verdict's ask #6:
    * the last LLM-serving twin still spec-only). The H4 frozen-index
    * fixture feeds [[graft.streaming.StreamOps.annServe]] through a
    * MemoryStream in two micro-batches WITH the head query
    * re-delivered in the second — the serve's exactly-once contract
    * must suppress the duplicate — and the drained memory sink is the
    * result. The oracle is the batch probe's SQL verbatim
    * (stream ≡ sim_ivf_probe is the operator's whole contract;
    * StreamingSpec additionally pins it under arbitrary splits).
    *
    * Scale: per micro-batch the work is stream-rows × probed posting
    * lists (the static side is the frozen inverted file — a
    * stream-static equi-join, Spark's native shape for index serving);
    * the corpus is never rescanned after the index build. */
  def annServeBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (qs, cents, assigned, nProbe, k) = streamServeFixture(spark, dir)
    val frozen = assigned.cutLineage() // the between-refreshes index
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamOps.QueryVec]
    val name = s"graft_ann_serve_${annServeSeq.incrementAndGet()}"
    // replay under the bounded-state partition count (r14: each
    // micro-batch pays an O(shuffle.partitions) state-store commit
    // floor; see StreamOps.withReplayPartitions)
    val out = graft.streaming.StreamOps.withReplayPartitions(spark) {
      val q = graft.streaming.StreamOps
        .annServe(ms.toDS(), cents, frozen, nProbe, k, spark)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val (a, b) = qs.splitAt(math.max(1, qs.size / 2))
        ms.addData(a); q.processAllAvailable()
        ms.addData(b ++ Seq(qs.head)); q.processAllAvailable() // re-delivery
        // materialize off the memory sink so the served frame outlives
        // the dropped temp view (bounded: NQueries x k rows)
        spark.table(name)
          .select(col("qid"), col("rank"), col("vec_id"), col("cosine"),
            col("cell"))
          .cutLineage()
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
    Ckpt.release(frozen)
    out
  }

  val registry: Seq[(String, Entry)] = Seq(
    // stream ≡ batch probe IS the contract
    "stream_ann_serve" -> Entry(annServeBatch _, ivfProbeSql, shuffles = 2),
    "sim_knn_graph" -> Entry((s, d) => knnGraph(s, d), knnGraphSql(),
      shuffles = 5), // bucket-keyed self-join + src-keyed top-k window
    "param_knn_graph" -> Entry((s, d) => knnGraph(s, d, k = 3), knnGraphSql(k = 3), shuffles = 5),
    "sim_hybrid_rrf" -> Entry((s, d) => hybridRrf(s, d), hybridRrfSql(),
      shuffles = 5, // BM25's 3 + union-groupBy fusion
      bnlj = true), // (b) broadcast query vector + BM25's stats scalar
    "sim_rerank_pipeline" -> Entry(rerankPipeline _, rerankPipelineSql, shuffles = 4,
      bnlj = true), // (a) stage 1 is sim_pq_adc's codebook crossJoin
    "sim_sq8" -> Entry(sq8 _, sq8Sql, shuffles = 2,
      bnlj = true), // (a) broadcast query codes, streaming corpus codes
    "sim_binary_quantized" -> Entry(binaryQuantized _, binaryQuantizedSql, shuffles = 2,
      bnlj = true), // (a) broadcast query fingerprints, streaming corpus scan
    "sim_pooled_search" -> Entry(pooledSearch _, pooledSearchSql, shuffles = 1,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_filtered_search" -> Entry(filteredSearch _, filteredSearchSql, shuffles = 1,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_range_search" -> Entry(rangeSearch _, rangeSearchSql, shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_maxsim_multivec" -> Entry(maxsimMultivec _, maxsimMultivecSql, shuffles = 3,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_pq_adc" -> Entry(pqAdc _, pqAdcSql, shuffles = 3,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_topk_bruteforce" -> Entry(topkBruteforce _, topkBruteforceSql, shuffles = 1,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_mmr_select" -> Entry((s, d) => mmrSelect(s, d), mmrSelectSql(), shuffles = 2,
      bnlj = true), // (a) H1's broadcast-probe pool build
    "sim_rocchio_feedback" -> Entry((s, d) => rocchioFeedback(s, d), rocchioFeedbackSql(),
      shuffles = 4, // r1 top-k window + seedpos/qexp rollups over contract-bounded rows + r2 window
      bnlj = true), // (a) broadcast probes round 1, broadcast expanded queries round 2
    "param_rocchio_feedback" -> Entry((s, d) => rocchioFeedback(s, d, k0 = 5, k = 20),
      rocchioFeedbackSql(k0 = 5, k = 20), shuffles = 4,
      bnlj = true), // (a) broadcast probes round 1, broadcast expanded queries round 2
    "param_mmr_select" -> Entry((s, d) => mmrSelect(s, d, poolK = 10, selectK = 3),
      mmrSelectSql(poolK = 10, selectK = 3), shuffles = 2,
      bnlj = true), // (a) H1's broadcast-probe pool build
    "sim_knn_classify" -> Entry((s, d) => knnClassify(s, d), knnClassifySql(),
      shuffles = 3, // per-query topK window + vote rollup/argmax + matrix rollup (label-keyed)
      bnlj = true), // (a) broadcast held-out eval set, streaming train corpus
    "sim_classifier_metrics" -> Entry((s, d) => classifierMetrics(s, d), classifierMetricsSql(),
      shuffles = 3, // post-checkpoint: two marginal aggs + full-outer over <= |classes| rows
      bnlj = true), // (b) 1-row macro-F1 attach onto the |classes| rows
    "param_classifier_metrics" -> Entry((s, d) => classifierMetrics(s, d, k = 3, nEval = 20),
      classifierMetricsSql(k = 3, nEval = 20), shuffles = 3,
      bnlj = true), // (b) 1-row macro-F1 attach onto the |classes| rows
    "param_knn_classify" -> Entry((s, d) => knnClassify(s, d, k = 3, nEval = 20),
      knnClassifySql(k = 3, nEval = 20), shuffles = 3,
      bnlj = true), // (a) broadcast held-out eval set, streaming train corpus
    "sim_cosine_pairs" -> Entry(cosinePairs _, cosinePairsSql, shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_lsh_ann" -> Entry(lshAnn _, lshAnnSql, shuffles = 1,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_ivf_probe" -> Entry(ivfProbe _, ivfProbeSql, shuffles = 3,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_index_refresh" -> Entry((s, d) => indexRefresh(s, d), indexRefreshSql(),
      shuffles = 3, // delta-assign window + probe window + rank window (base lists are a checkpoint leaf)
      bnlj = true), // (a) bounded frozen-codebook crossJoin (delta encode + probe assign)
    "sim_staleness_recall" -> Entry((s, d) => stalenessRecall(s, d), stalenessRecallSql(),
      shuffles = 5, // truth window + per-state hit rollups + qid attaches (index build is the memoized H23 checkpoint leaf)
      bnlj = true), // (b) H1's broadcast-query truth pass + H23's codebook crossJoins
    "param_staleness_recall" -> Entry((s, d) => stalenessRecall(s, d, splitPct = 60),
      stalenessRecallSql(splitPct = 60), shuffles = 5,
      bnlj = true), // (b) H1's broadcast-query truth pass + H23's codebook crossJoins
    "param_index_refresh" -> Entry((s, d) => indexRefresh(s, d, splitPct = 60),
      indexRefreshSql(splitPct = 60), shuffles = 3,
      bnlj = true), // (a) bounded frozen-codebook crossJoin (delta encode + probe assign)
    "sim_index_tombstone" -> Entry((s, d) => indexTombstone(s, d), indexTombstoneSql(),
      shuffles = 3, // H23's shape: delta-assign + probe + rank windows
      bnlj = true), // (a) same codebook crossJoin, postings filtered at read
    "param_index_tombstone" -> Entry((s, d) => indexTombstone(s, d, tombMod = 5, tombR = 0),
      indexTombstoneSql(tombMod = 5, tombR = 0), shuffles = 3,
      bnlj = true), // (a) same codebook crossJoin, postings filtered at read
    "sim_index_compaction" -> Entry((s, d) => indexCompaction(s, d), indexCompactionSql(),
      shuffles = 3, // delta-assign window + cell rollup + ordered serve (base lists are a checkpoint leaf)
      bnlj = true), // (a) same codebook crossJoin on the delta-encode side of the merged file
    "param_index_compaction" -> Entry((s, d) =>
      indexCompaction(s, d, tombMod = 5, tombR = 0, tauBp = 2000),
      indexCompactionSql(tombMod = 5, tombR = 0, tauBp = 2000), shuffles = 3,
      bnlj = true), // (a) same codebook crossJoin on the delta-encode side of the merged file
    "sim_ivf_kmeans" -> Entry(ivfKmeans _, ivfKmeansSql, shuffles = 15,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    // cell rollup + 1-row totals agg + final decision agg over the
    // checkpointed assignment leaf
    "sim_codebook_drift" -> Entry((s, d) => codebookDrift(s, d), codebookDriftSql(), shuffles = 3,
      bnlj = true), // (b) 1-row slice-totals attach onto the <=256-cell rollup
    "param_codebook_drift" -> Entry((s, d) => codebookDrift(s, d, byDim = true),
      codebookDriftSql(byDim = true), shuffles = 3,
      bnlj = true), // (b) 1-row slice-totals attach onto the <=256-cell rollup
    "sim_ivfpq_residual" -> Entry(ivfPqResidual _, ivfPqResidualSql,
      shuffles = 3, // assignment window + encode argmin + score agg
      bnlj = true), // (a) bounded centroid + residual-codebook crossJoins
    "sim_recall_eval" -> Entry(recallEval _, recallEvalSql,
      shuffles = 28, // six index families side by side
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "sim_mrl_eval" -> Entry((s, d) => mrlEval(s, d), mrlEvalSql(),
      shuffles = 14, // ground-truth topk + per-fraction truncated topk/hit joins (500-row metadata shuffles)
      bnlj = true)) // (a) broadcast query/request side, streaming corpus side
}
