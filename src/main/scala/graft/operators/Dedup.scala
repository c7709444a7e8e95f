package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Ckpt, Entry, Memo, Registered, Tables}
import graft.Ckpt.CutOps

/** Document deduplication for LLM-scale corpora (SURVEY §2.G).
  *
  * Exact and fingerprint dedup are hash-groupBys (one shuffle, partial
  * agg). Near-dup goes through shingles: the shingle explosion is
  * bounded (first 60 tokens per doc — documented cap, the standard
  * trick to keep shingle volume linear in corpus size), pairs are
  * pruned `id1 < id2`, and the scale path is MinHash/LSH (G4): the
  * band-bucket join is O(n·bands) instead of the O(n²) all-pairs
  * join. Hashes are md5 hex strings so Spark and DuckDB agree
  * bit-for-bit (engine-portable minima; no platform-specific hash).
  */
object Dedup extends Registered {

  private def docsSrc(dir: String): Seq[String] = Seq(s"$dir/documents.parquet")

  /** Whitespace tokens, first 60 (cap documented above). */
  private def toks: Column =
    slice(filter(split(col("text"), " "), c => c =!= ""), 1, 60)

  /** Distinct word n-gram shingles per doc. Mirrors the oracle's
    * range(1, len-n+2) + element_at construction index-for-index so
    * both engines shingle identically. Guarded for short docs
    * (Spark's sequence() counts DOWN when start > stop).
    *
    * A memo entry per (dir, n), never a bare `.cache()`: every
    * consumer reads the shingles through this one entry, so a rewrite
    * of documents.parquet releases the old set before any plan can
    * pick it up from CacheManager. */
  private[operators] def shingles(spark: SparkSession, dir: String, n: Int): DataFrame =
    Memo.cached(spark, s"dedup.shingles:$dir:$n", docsSrc(dir)) {
      val w = col("w")
      val idx = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
        .otherwise(array().cast("array<int>"))
      val sh = transform(idx, i =>
        concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))
      Tables.documents(spark, dir)
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), explode(sh).as("shingle"))
        .distinct()
    }

  /** SQL fragment producing the identical shingle set in DuckDB. */
  private[operators] def shinglesSql(n: Int): String = {
    val parts = (0 until n).map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '')[:60] AS w
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(w) - ${n - 2}), i -> $parts)) AS shingle
       |  FROM toks WHERE len(w) >= $n
       |)""".stripMargin
  }

  /** G1 `dedup_exact` — exact dedup via content hash groupBy: keeper =
    * min doc_id per hash. Single shuffle on the hash. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  def exactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** G2's normalized text (lowercase, punctuation stripped, whitespace
    * collapsed) — shared with P3's fused dedup stage. */
  private[operators] def normText: Column =
    trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", " "), " +", " "))

  /** The same normalization in DuckDB SQL. */
  private[operators] def normTextSql: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** G2 `dedup_fingerprint` — dedup on a normalized fingerprint
    * (lowercase, punctuation stripped, whitespace collapsed) so
    * formatting-only variants collapse. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(normText.cast("binary")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  def fingerprintSql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** G3 `dedup_ngram_jaccard` — near-dup pairs by word-trigram Jaccard
    * >= 0.05. All-pairs via shingle join (pruned id1<id2) — this is
    * the CORRECTNESS baseline; the scale path for 100 TB is G4's LSH
    * candidates (O(n·bands)), with this Jaccard as the re-rank. The
    * ratio divides exact ints so both engines produce identical
    * doubles. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.Engine.requireQuadraticAllowed(spark, "dedup_ngram_jaccard")
    jaccardPairs(spark, dir)
  }

  /** Ungated core of G3, shared with [[clusters]]: the conf gate
    * guards the SERVED all-pairs query; the cluster edge derivation
    * at test scale deliberately uses the exact pairs (so G6's oracle
    * is the true transitive closure). A 100 TB deployment swaps this
    * edge source for G4's LSH candidates re-ranked by this Jaccard —
    * results then depend on index recall, which is why the exact form
    * stays the correctness baseline here. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir, 3)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))
  }

  /** The G3 oracle, threshold-parameterized: G19 reuses it at its own
    * (stricter) threshold because prefix filtering is sound+complete —
    * its answer IS the naive all-pairs answer. */
  private def jaccardPairsSqlAt(minJ: Double): String =
    s"""WITH ${shinglesSql(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter, sa.n AS size_a, sb.n AS size_b,
       |  inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
       |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
       |           JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= $minJ""".stripMargin

  def ngramJaccardSql: String = jaccardPairsSqlAt(0.05)

  /** G19's default Jaccard threshold — the near-dup regime where
    * prefix filtering has real pruning power (prefix length ~
    * (1-t)·|S|). */
  private val ApssT = 0.5

  /** Per-doc APSS state in ONE pass: the doc's shingle set as an
    * array SORTED rarest-globally-first (df asc, shingle asc — the
    * canonical prefix-filtering order), its size, and its prefix
    * length for threshold t. One shingle pipeline feeds df, the
    * per-doc collect, and (via slice) the prefix — no second explode,
    * no per-doc window: the prefix ordering happens inside the array.
    *
    * apssDocs is consumed FOUR times per G19 run (both prefix sides +
    * both verify sides) and the branches defeat exchange reuse (the
    * df attach broadcasts) — so the per-doc APSS state is a memoized
    * cached plan, one entry per (session, dir, t). At 100 TB this
    * materialized per-doc state is exactly the index segment an APSS
    * job would persist anyway. */
  private def apssDocs(spark: SparkSession, dir: String,
      t: Double): DataFrame = {
    Memo.cached(spark, s"dedup.apssDocs:$dir:$t", docsSrc(dir)) {
      val sh = shingles(spark, dir, 3)
      val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      sh.join(df, "shingle")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
          .as("ranked"))
        .select(col("doc_id"),
          expr("transform(ranked, x -> x.shingle)").as("shset"),
          size(col("ranked")).cast("long").as("n"))
        .withColumn("plen",
          (col("n") - ceil(lit(t) * col("n")) + 1).cast("int"))
    }
  }

  /** Candidate pairs from the prefix-filter join — separated from the
    * verification step so the spec can assert the candidate volume
    * stays far below the all-pairs bound. */
  private[graft] def apssCandidates(spark: SparkSession, dir: String,
      t: Double = ApssT): DataFrame = {
    // prefix = first |S| - ceil(t·|S|) + 1 shingles in rarest-first order
    val prefix = apssDocs(spark, dir, t)
      .select(col("doc_id"), col("n"),
        explode(slice(col("shset"), lit(1), col("plen"))).as("shingle"))
    prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          // size filter: J >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
          col("b.n") >= col("a.n") * t &&
          col("a.n") >= col("b.n") * t)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** G19 `dedup_apss_prefix` — EXACT all-pairs near-dup join by
    * prefix filtering (the All-Pairs/PPJoin family — Bayardo et al.
    * WWW'07, Xiao et al. WWW'08, both public): every pair with
    * word-trigram Jaccard >= [[ApssT]], WITHOUT G3's conf-gated
    * all-shingle join. Shingles are ordered by ascending global
    * document frequency (rarest first, shingle text as tie-break); a
    * doc with |S| shingles joins only on its first
    * |S| - ceil(t·|S|) + 1 shingles in that order (its PREFIX).
    * Prefix-filtering theorem: two sets with J >= t must share at
    * least one prefix shingle — so keying the candidate join on
    * prefixes is SOUND (no missed pairs), and because a prefix holds
    * a doc's rarest shingles, the hot stop-shingle buckets that make
    * the naive join blow up never enter the join. Candidates then get
    * EXACT verification (array_intersect over the full shingle sets,
    * bounded at 58/doc by the 60-token cap), so the served answer
    * equals the naive all-pairs answer — which is exactly what the
    * oracle runs. This is the ungated scale path for exact near-dup
    * pairs; G3 stays as the low-threshold gated baseline.
    * Scale: df and prefix ranks are keyed aggs/windows (doc-bounded
    * partitions), the candidate join is an equi-join on rare
    * shingles, and verification touches candidate pairs only.
    * DedupTextSpec pins equality with the gated baseline at the same
    * threshold AND that candidate volume ≪ n·(n-1)/2. */
  def apssPrefix(spark: SparkSession, dir: String,
      t: Double = ApssT): DataFrame = {
    // The pair set feeds FOUR registry consumers (G19's serve, G20's
    // ground truth, M16's positives, the t=0.8 param row) and repeated
    // bench reps — and the candidate join + exact verification is the
    // whole cost of each (measured 6.0 s/pass at sf1 while everything
    // downstream of the pairs is ~1 s; the r13 verdict's 13.2×/decade
    // scale-watch was this join re-running per consumer). The near-dup
    // pair table is the bounded index a real pipeline persists anyway,
    // so it is a memoized checkpointed table, one build per (dir, t).
    Memo.checkpointed(spark, s"dedup.apss:$dir:$t", docsSrc(dir))(
      apssPrefixBuild(spark, dir, t).cutLineage())
  }

  private def apssPrefixBuild(spark: SparkSession, dir: String,
      t: Double): DataFrame = {
    val docs = apssDocs(spark, dir, t)
    apssCandidates(spark, dir, t)
      .join(docs.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
        col("n").as("size_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
        col("n").as("size_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))
  }

  def apssPrefixSql(t: Double = ApssT): String = jaccardPairsSqlAt(t)

  /** G20 `dedup_lsh_recall` — INDEX-QUALITY EVALUATION for the dedup
    * family (H5's recall-eval discipline applied to G4): recall of
    * the MinHash/LSH candidate generator against the EXACT near-dup
    * ground truth, per Jaccard band. Ground truth is G19's ungated
    * prefix-filter join at t=0.5 (sound+complete, so the denominator
    * is the true pair set, not an estimate); candidates are G4's
    * (band, bucket) join at b=8, r=1. The theoretical miss rate per
    * pair is (1-J)^8 — the eval reports the realized recall per band
    * so an operator choosing banding parameters sees the tradeoff on
    * their corpus. Everything is deterministic (md5 minima, exact
    * pairs), so even the recall ratios hash-match the oracle.
    * Scale: two pair sets joined on (doc_a, doc_b) — keyed, both
    * sides already bounded by near-dup density, then a 2-row band
    * rollup. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = apssPrefix(spark, dir, t = 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cand = minhashLsh(spark, dir).withColumn("hit", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(when(col("jaccard") >= 0.75, "high_j>=0.75")
        .otherwise("mid_0.5<=j<0.75").as("jaccard_band"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth"))
  }

  def lshRecallSql: String =
    s"""WITH truth AS (SELECT doc_a, doc_b, jaccard FROM (
       |${jaccardPairsSqlAt(0.5)}
       |)), cand AS (SELECT doc_a, doc_b, 1 AS hit FROM (
       |$minhashLshSql
       |))
       |SELECT CASE WHEN jaccard >= 0.75 THEN 'high_j>=0.75'
       |            ELSE 'mid_0.5<=j<0.75' END AS jaccard_band,
       |  COUNT(*) AS n_truth,
       |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
       |  CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*) AS recall
       |FROM truth LEFT JOIN cand USING (doc_a, doc_b)
       |GROUP BY 1""".stripMargin

  /** G4 `dedup_minhash_lsh` — MinHash signatures (nHashes hash
    * functions as md5-string minima — portable across engines) banded
    * (nHashes/bandRows)×bandRows; LSH candidates = doc pairs sharing
    * any band bucket. This is the 100 TB near-dup path: shuffle keyed
    * by (band, bucket-hash), never all-pairs. Band id is part of the
    * join key so bucket joins distribute across the cluster.
    *
    * (b, r) is PARAMETERIZED (the r13 verdict's ask #5): the default
    * 8×1 maximizes recall (candidate P = 1-(1-J)^8 — any one of 8
    * minima matching makes a candidate), which at 100 TB corpus
    * cardinality makes r=1's false-positive candidate mass the dedup
    * path's main scale risk. `param_minhash_lsh` runs the 4×2 layout
    * (P = 1-(1-J²)^4): a band only fires when BOTH its minima agree,
    * collapsing the low-J candidate mass at a measured high-J recall
    * cost (DedupTextSpec pins candidate volume and recall for both
    * layouts on the same corpus). */
  /** The nHashes MinHash signature minima per doc — shared by G4
    * (banding) and G17 (signature-agreement estimation). */
  private def minhashSigs(spark: SparkSession, dir: String,
                          nHashes: Int = 8): DataFrame = {
    val sh = shingles(spark, dir, 3)
    val sigCols = (0 until nHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary"))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  def minhashLsh(spark: SparkSession, dir: String,
                 nHashes: Int = 8, bandRows: Int = 1): DataFrame = {
    // Same lifecycle as the APSS pair table (r14): the signature agg +
    // band self-join re-ran for every consumer (G4's serve, G20's
    // candidate side, every bench rep) and is the dedup family's
    // remaining heavy build at 10x data (9.6 s isolated at sf1, all in
    // this join). The candidate pair set is near-dup-density bounded —
    // memoized checkpointed per (dir, b, r).
    Memo.checkpointed(spark, s"dedup.minhash:$dir:$nHashes:$bandRows",
      docsSrc(dir))(minhashLshBuild(spark, dir, nHashes, bandRows).cutLineage())
  }

  private def minhashLshBuild(spark: SparkSession, dir: String,
                              nHashes: Int, bandRows: Int): DataFrame = {
    require(nHashes % bandRows == 0, s"bandRows $bandRows !| nHashes $nHashes")
    val nBands = nHashes / bandRows
    val sig = minhashSigs(spark, dir, nHashes)
    // band bucket-hash = the band's r minima joined on '|' — md5 hex
    // strings never contain '|', so the concat is collision-free
    val bands = sig.select(col("doc_id"), explode(array(
      (0 until nBands).map(i => struct(lit(i).as("band"),
        concat_ws("|", (0 until bandRows).map(j =>
          col(s"h${i * bandRows + j}")): _*).as("bh"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
  }

  def minhashLshSqlAt(nHashes: Int = 8, bandRows: Int = 1): String = {
    val nBands = nHashes / bandRows
    val mins = (0 until nHashes).map(i => s"MIN(md5('$i:' || shingle)) AS h$i")
      .mkString(",\n    ")
    val bandSel = (0 until nBands).map { i =>
      val bh = (0 until bandRows).map(j => s"h${i * bandRows + j}")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $i AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shinglesSql(3)},
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1
       |), bands AS (
       |  $bandSel
       |)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id""".stripMargin
  }

  def minhashLshSql: String = minhashLshSqlAt()

  /** G17 `dedup_minhash_estimate` — MinHash-ESTIMATED Jaccard over
    * the G4 candidate pairs: est = (matching signature minima) / 8,
    * the Broder'97 estimator (E[min agree] = J). This is the re-rank
    * the 100 TB dedup pipeline actually runs — G3's exact Jaccard
    * joins the SHINGLE streams of both docs (corpus-scale work per
    * pair), while this compares two 8-value signatures the index
    * already stores, so scoring a candidate is O(1) regardless of doc
    * size. Downstream keeps pairs above a signature threshold
    * (Lee et al. 2021 use the same shape). n_match / 8.0 divides
    * exact integers — fraction hash-matches cross-engine. Every G4
    * candidate shares a band, so n_match >= 1 by construction. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    // Carry the full signature array THROUGH the band explode so the
    // sig aggregation runs once and the band self-join already has
    // both signatures in hand — no join-back to the signature table
    // (which would recompute the corpus aggregation per side at
    // scale). n_match is deterministic per pair, so the post-join
    // distinct on (pair, n_match) dedups band collisions exactly as
    // G4's candidate distinct does.
    val sig = minhashSigs(spark, dir)
      .select(col("doc_id"),
        array((0 until 8).map(i => col(s"h$i")): _*).as("sig"))
    val bands = sig.select(col("doc_id"), col("sig"),
      posexplode(col("sig")).as(Seq("band", "bh")))
    val nMatch = (0 until 8)
      .map(i => when(element_at(col("x.sig"), i + 1) ===
        element_at(col("y.sig"), i + 1), 1).otherwise(0))
      .reduce(_ + _)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        nMatch.as("n_match"))
      .distinct()
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        (col("n_match").cast("double") / 8.0).as("est_jaccard"))
  }

  def minhashEstimateSql: String = {
    val mins = (0 until 8).map(i => s"MIN(md5('$i:' || shingle)) AS h$i")
      .mkString(",\n    ")
    val bandRows = (0 until 8)
      .map(i => s"SELECT doc_id, $i AS band, h$i AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    val matches = (0 until 8)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${shinglesSql(3)},
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1
       |), bands AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |), scored AS (
       |  SELECT c.doc_a, c.doc_b, $matches AS n_match
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
       |              JOIN sig b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, n_match,
       |  CAST(n_match AS DOUBLE) / 8.0 AS est_jaccard
       |FROM scored""".stripMargin
  }

  /** G5 `dedup_simhash` — 60-bit SimHash: per-token md5 (top 15 hex
    * chars = 60 bits), bit-vote aggregation over token occurrences.
    * Near-dup docs differ in few bits (checked in spec via hamming
    * distance). Single shuffle on doc_id; the vote is one native
    * [[graft.functions.SimhashAgg]] (61-long buffer, map-side
    * combinable) instead of 60 scalar sum() aggregates + an OR-fold
    * projection. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val tokenHash = conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("token"))
      .select(col("doc_id"), tokenHash.as("th"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimhashAgg.simhashAgg(col("th")).as("simhash"))
  }

  /** Same votes in DuckDB: hex-parse the token hash, 60 ones-counts,
    * bit j set iff 2*ones_j > n. Exposed as a CTE block so G18's
    * hamming join builds on the identical fingerprints. */
  private def simhashCtes: String = {
    val ones = (0 until 60).map(j => s"SUM((th >> $j) & 1) AS o$j").mkString(",\n    ")
    val bits = (0 until 60)
      .map(j => s"(CASE WHEN 2*o$j > n THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)")
      .mkString(" +\n  ")
    s"""t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(str_split(text, ' '), x -> x <> '')[:60]) AS token
       |  FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS th
       |  FROM t
       |), v AS (
       |  SELECT doc_id, COUNT(*) AS n,
       |    $ones
       |  FROM h GROUP BY 1
       |), sig AS (
       |  SELECT doc_id, CAST(
       |    $bits
       |  AS BIGINT) AS simhash
       |  FROM v
       |)""".stripMargin
  }

  def simhashSql: String =
    s"WITH $simhashCtes\nSELECT doc_id, simhash FROM sig"

  /** G18 `dedup_simhash_hamming` — near-dup PAIRS by simhash hamming
    * distance, the web-scale fuzzy dedup of Manku, Jain & Das Sarma
    * 2007 ("Detecting near-duplicates for web crawling", WWW'07; the
    * reference has no near-dup op — this is the LLM-pipeline family).
    *
    * Pigeonhole blocking: split the 60-bit fingerprint into
    * `maxHamming + 1` equal bands; two fingerprints within hamming
    * `maxHamming` MUST agree exactly on at least one band, so an
    * equi-join on (band index, band value) captures every qualifying
    * pair with zero false negatives, and the exact
    * `bit_count(a XOR b) <= maxHamming` recheck discards the band
    * collisions. Never all-pairs: candidate volume is the collision
    * count of 15-bit keys. At 100 TB the band join is a plain hash
    * shuffle on (band, bval); a degenerate hot band value (e.g. a
    * glut of near-empty docs voting all-zero) is an AQE skew-join
    * split, and the G5 aggregate exchange is computed once and
    * reused by both join sides (ReusedExchange — asserted in spec).
    * One pair can collide in several bands; the min-agg on
    * (doc_a, doc_b) dedups candidates in the same shuffle that the
    * GROUP BY needs anyway. */
  def simhashHammingPairs(spark: SparkSession, dir: String,
                          maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(60 % bands == 0, s"60-bit simhash: band count $bands must divide 60")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val sig = simhash(spark, dir)
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(j => struct(
        lit(j).as("band"),
        shiftright(col("simhash"), j * width).bitwiseAND(lit(mask)).as("bval"))): _*))
        .as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    val lhs = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val rhs = banded.select(col("band"), col("bval"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    lhs.join(rhs, Seq("band", "bval"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Identical banding + recheck over the shared simhash CTEs. */
  def simhashHammingSql(maxHamming: Int = 3): String = {
    val bands = maxHamming + 1
    val width = 60 / bands
    val mask = (1L << width) - 1
    s"""WITH $simhashCtes,
       |bands AS (
       |  SELECT doc_id, simhash, j AS band,
       |    (simhash >> (j * $width)) & $mask AS bval
       |  FROM sig CROSS JOIN range(0, $bands) r(j)
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hd
       |  FROM bands a JOIN bands b USING (band, bval)
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, MIN(hd) AS hamming
       |FROM cand
       |WHERE hd <= $maxHamming
       |GROUP BY 1, 2""".stripMargin
  }

  /** G6 `dedup_clusters` — near-duplicate clustering: connected
    * components over the Jaccard pair graph (edges = G3's pairs at
    * >= 0.05), each doc labeled with the min doc_id of its component
    * (the cluster representative a dedup pass would keep).
    *
    * Pregel-style min-label propagation: every iteration each node
    * takes the min label among itself and its neighbors; converged
    * when no label changes. Each iteration is one distributed
    * join+agg keyed on the node id; the driver only orchestrates and
    * checks the converged flag — at 1000 executors the per-iteration
    * work is a shuffle of |edges| messages, and iteration count is
    * the graph diameter (tiny for near-dup clusters). localCheckpoint
    * truncates lineage so plans don't grow with iterations. */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val strategyKey = spark.conf
      .getOption("graft.dedup.clusters.driverMaxEdges").getOrElse("default")
    // the strategy conf is part of the token: a mid-session flip
    // REPLACES the entry and releases the superseded checkpointed
    // blocks, instead of serving the other strategy's answer
    Memo.checkpointed(spark, s"dedup.clusters:$dir", docsSrc(dir),
        strategyKey) {
      // checkpoint the pairs BEFORE symmetrizing: a union of the raw
      // pipeline with its own swap would run the shingle pair join
      // twice in the checkpoint materialization
      val pairs = jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
        .cutLineage() // the shingle pipeline only runs once
      val edges = pairs
        .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
      // Size-adaptive strategy, like AQE picks joins by runtime stats:
      // the candidate graph after Jaccard/LSH pruning is orders of
      // magnitude smaller than the corpus, so when it fits the driver
      // comfortably, union-find beats paying per-iteration job
      // overhead. The distributed label propagation remains the path
      // for adversarially large candidate graphs.
      val nEdges = edges.count()
      // Default is MASTER-DERIVED so a cluster deployment is scale-safe
      // without any conf: on local[*] masters (tests/bench, where
      // per-iteration job overhead dominates and the candidate graph
      // trivially fits one JVM) the driver union-find engages up to 1M
      // edges; on any real cluster master the default is 0, i.e. the
      // distributed label propagation ALWAYS runs unless the operator
      // explicitly opts in to a driver-side cut-over.
      val driverMax = spark.conf
        .getOption("graft.dedup.clusters.driverMaxEdges")
        .map(_.toLong)
        .getOrElse(
          if (spark.sparkContext.master.startsWith("local")) 1000000L else 0L)
      if (nEdges <= driverMax) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.select(col("src"), col("dst")).collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // edges are symmetric, so distinct src covers every node.
        // explicit schema (not toDF): reflection-derived encoders
        // break under embedded/REPL classloaders
        val nodes = edges.select(col("src")).distinct()
          .collect().map(_.getLong(0)).sorted
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_rep",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val rows = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1).toJavaRDD(), schema)
      } else {
        minLabelPropagate(edges)
          .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      }
    }
  }

  /** The distributed connected-components seam (shared by G6 and
    * J10's perceptual near-dup clustering): Pregel-style min-label
    * propagation over a SYMMETRIC (src, dst) edge list — every
    * iteration each node takes the min label among itself and its
    * neighbors; converged when no label changes. Each iteration is
    * one distributed join+agg keyed on the node id; at 1000 executors
    * the per-iteration work is a shuffle of |edges| messages and the
    * iteration count is the component diameter. localCheckpoint
    * truncates lineage so plans don't grow with iterations. Returns
    * (node, label); empty edges → empty result. */
  private[operators] def minLabelPropagate(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .cutLineage()
    // labels only ever decrease, so the label sum is a cheap
    // monotone convergence witness (no join needed per iteration);
    // SUM on an empty/exhausted frame is NULL → treated as 0, which
    // converges on the second (no-op) pass for an empty graph
    var prevSum = Long.MaxValue
    var converged = false
    var iter = 0
    // iterate to convergence — the witness (label sum) is monotone
    // decreasing, so convergence is guaranteed in <= diameter
    // iterations; the cap is a safety net against a bug, and
    // hitting it is an ERROR (truncating would silently split
    // components with diameter > cap), never a silent return.
    val maxIter = 1000
    while (!converged && iter < maxIter) {
      val messages = edges
        .join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      val next = labels.unionAll(messages)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .cutLineage()
      // next is materialized: the superseded labels' blocks can go
      Ckpt.release(labels)
      val s = Option(next.agg(sum(col("label"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"min-label propagation did not converge in $maxIter iterations")
    labels
  }

  def clustersSql: String =
    s"""WITH RECURSIVE ${shinglesSql(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), edges0 AS (
       |  SELECT doc_a, doc_b
       |  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.05
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM edges0
       |  UNION SELECT doc_b, doc_a FROM edges0
       |), reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a
       |)
       |SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a""".stripMargin

  /** G7 `dedup_keep_corpus` — the survivor corpus a dedup pass emits:
    * cluster representatives plus every unclustered doc. left_anti
    * against the non-representative set; at scale this is the one
    * pass that rewrites the corpus, everything before it only built
    * the (tiny) drop list. */
  def keepCorpus(spark: SparkSession, dir: String): DataFrame = {
    val drop = clusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("text_hash"))
  }

  def keepCorpusSql: String =
    s"""WITH RECURSIVE ${shinglesSql(3)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), edges0 AS (
       |  SELECT doc_a, doc_b
       |  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.05
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM edges0
       |  UNION SELECT doc_b, doc_a FROM edges0
       |), reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a
       |), comp AS (SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach GROUP BY a)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars, md5(d.text) AS text_hash
       |FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM comp
       |                  WHERE comp.doc_id = d.doc_id
       |                    AND comp.cluster_rep <> d.doc_id)""".stripMargin

  /** G8 `dedup_decontaminate` — train/benchmark decontamination: flag
    * training docs sharing word n-grams with a held-out benchmark set
    * (docs with doc_id % 10 == 0 stand in for the benchmark). The
    * standard pre-training hygiene pass: exact n-gram collision, not
    * similarity — one shared shingle is enough to flag. Scale: a REAL
    * benchmark set is small and would broadcast, but this synthetic
    * stand-in is a corpus-derived 10% slice that grows with input, so
    * no broadcast hint here — AQE broadcasts it when (and only when)
    * runtime stats say it fits, and falls back to a shuffle join
    * otherwise. Never hint a broadcast whose size scales with the
    * corpus. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // both the bench and train side read the one cached shingle set
    val sh = shingles(spark, dir, 3)
    val bench = sh.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("bench_doc_id"), col("shingle"))
    val train = sh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    train.join(bench, "shingle")
      .groupBy(col("doc_id"), col("bench_doc_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  def decontaminateSql: String =
    s"""WITH ${shinglesSql(3)}
       |SELECT t.doc_id, b.doc_id AS bench_doc_id, COUNT(*) AS shared_ngrams
       |FROM sh t JOIN sh b
       |  ON t.shingle = b.shingle
       | AND b.doc_id % 10 = 0 AND t.doc_id % 10 <> 0
       |GROUP BY 1, 2""".stripMargin

  /** Overlap fraction above which G16 flags a training doc. */
  private val ContamTau = 0.5

  /** G16 `dedup_contamination_frac` — decontamination by n-gram
    * OVERLAP FRACTION, the thresholded form the GPT-3 and PaLM
    * reports describe (Brown et al. 2020 appendix C / Chowdhery et
    * al. 2022 — flag a training doc when a high fraction of its
    * n-grams appears in any benchmark doc, not on a single collision
    * like G8): per train doc, overlap_frac = |its distinct shingles
    * ∩ the benchmark shingle set| / |its distinct shingles|, flagged
    * at >= [[ContamTau]]. The ratio divides exact integers so the
    * fraction and the boolean hash-match cross-engine. Scale: same
    * posture as G8 — the bench side is a semi-join set keyed by
    * shingle (AQE broadcasts it when it fits; a real benchmark is
    * tiny), the train side is the bounded per-doc shingle stream, and
    * both aggs are doc-keyed. */
  def contaminationFrac(spark: SparkSession, dir: String): DataFrame = {
    // the bench set and both train-side aggs read one cached shingle set
    val sh = shingles(spark, dir, 3)
    val bench = sh.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("shingle")).distinct()
    val train = sh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val tot = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val shared = train.join(bench, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val frac = coalesce(col("n_shared"), lit(0L)).cast("double") /
      col("n_shingles").cast("double")
    tot.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        frac.as("overlap_frac"),
        (frac >= ContamTau).as("contaminated"))
  }

  def contaminationFracSql: String =
    s"""WITH ${shinglesSql(3)},
       |bench AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh
       |  WHERE doc_id % 10 <> 0 GROUP BY 1
       |), shr AS (
       |  SELECT doc_id, COUNT(*) AS n_shared FROM sh
       |  WHERE doc_id % 10 <> 0
       |    AND shingle IN (SELECT shingle FROM bench)
       |  GROUP BY 1
       |)
       |SELECT t.doc_id, t.n_shingles,
       |  COALESCE(s.n_shared, 0) AS n_shared,
       |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    AS overlap_frac,
       |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    >= $ContamTau AS contaminated
       |FROM tot t LEFT JOIN shr s ON t.doc_id = s.doc_id""".stripMargin

  /** G11 `dedup_bloom_decontaminate` — the 100 TB decontamination
    * path: compress the benchmark shingle set into a Bloom filter
    * (Catalyst's own BloomFilterAggregate — the machinery behind
    * Spark's runtime row-level join filtering), then flag training
    * docs with a scan-side might_contain probe. Unlike G8's join, the
    * corpus side never shuffles on shingles: the filter is a
    * fixed-size binary (1 MiB here) embedded as a literal, so cost is
    * one scan of the corpus plus a tiny aggregation of the flagged
    * subset — and the driver only ever holds the bloom bytes, sized
    * by the BENCHMARK set, not the corpus.
    *
    * This raw per-doc form is engine-specific (bloom false positives
    * have no DuckDB oracle), so the SERVED query is
    * [[bloomDecontaminate]] below, which hash-checks the superset law
    * against the exact join; DedupTextSpec additionally pins this raw
    * path's no-shingle-shuffle plan shape. */
  def bloomFlaggedDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val sh = shingles(spark, dir, 3)
    // memoized bloom bytes: building the filter is a Spark job, and
    // the DataFrame constructor must stay plan-only (merely explaining
    // the query must not launch jobs)
    val bloomBytes = Memo.value(spark, s"dedup.bloom:$dir", docsSrc(dir)) {
      val benchHashes = sh.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(xxhash64(col("shingle")).as("h"))
      val bloomAgg = GraftSqlBridge.column(
        BloomFilterAggregate(GraftSqlBridge.expression(col("h")),
          CatLit(1000000L), CatLit(8L * 1024 * 1024), 0, 0).toAggregateExpression())
      benchHashes.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    }
    require(bloomBytes != null, "benchmark shingle set is empty")
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      CatLit.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      GraftSqlBridge.expression(xxhash64(col("shingle")))))
    sh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .filter(mightContain)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("flagged_shingles"))
  }

  /** G11 `dedup_bloom_decontaminate` — driver-checkable form: one
    * summary row hash-compared against DuckDB. `exact_contaminated`
    * (count of docs the exact G8 join flags) is reproducible SQL;
    * the two BOOLEANs encode the bloom laws — `all_exact_flagged`
    * (no false negatives: flagged ⊇ exact) and `extras_bounded`
    * (false-positive docs ≤ max(1, exact/10)) — both deterministic
    * (xxhash64 + bloom on fixed input), so the oracle asserts them
    * as literal TRUE and a law violation becomes a hash mismatch. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val exact = decontaminate(spark, dir).select(col("doc_id")).distinct()
      .withColumn("is_exact", lit(true))
    val flagged = bloomFlaggedDocs(spark, dir).select(col("doc_id"))
      .withColumn("is_flagged", lit(true))
    val nExact = count(when(col("is_exact"), lit(1)))
    val nMissed = count(when(col("is_exact") && col("is_flagged").isNull, lit(1)))
    val nExtras = count(when(col("is_flagged") && col("is_exact").isNull, lit(1)))
    exact.join(flagged, Seq("doc_id"), "full_outer")
      .agg(
        nExact.as("exact_contaminated"),
        (nMissed === 0).as("all_exact_flagged"),
        (nExtras <= greatest(lit(1L), floor(nExact / 10))).as("extras_bounded"))
  }

  def bloomDecontaminateSql: String =
    s"""WITH ${shinglesSql(3)}, exact AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM sh t JOIN sh b ON t.shingle = b.shingle
       |  WHERE b.doc_id % 10 = 0 AND t.doc_id % 10 <> 0
       |)
       |SELECT COUNT(*) AS exact_contaminated,
       |  TRUE AS all_exact_flagged,
       |  TRUE AS extras_bounded
       |FROM exact""".stripMargin

  /** G9 `dedup_embedding_neardup` — embedding-cosine near-dup dedup:
    * survivors of the embeddings corpus after dropping every vector
    * that has a smaller-id near-duplicate (quantized cosine >= Tau)
    * in its LSH bucket. The blocking key is the [[Similarity]]
    * hyperplane bucket, so candidate pairs are one equi-join keyed on
    * (bucket) — O(bucket size), never all-pairs — and the dominated
    * set is removed with a broadcast-able anti-join. "Any smaller
    * near-dup neighbor disqualifies" is deliberately set-oriented
    * (one pass, no sequential greedy state); it can drop a chain
    * member whose own dominator was also dropped, the standard
    * trade-off of blocking dedup at scale. Cosine is the same
    * engine-exact integer-quantized form as H2-H4. The synthetic
    * embeddings are near-random, so Tau sits at the observed pair
    * ceiling (~0.5) rather than a production-style 0.9. */
  private val Tau = 0.35

  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Similarity.quantized(spark, dir)
      .withColumn("bucket", Similarity.bucketCol(col("qvec")))
    val a = emb.select(col("bucket"), col("vec_id").as("id_a"),
      col("qvec").as("qa"), col("nsq").as("na"))
    val b = emb.select(col("bucket"), col("vec_id").as("id_b"),
      col("qvec").as("qb"), col("nsq").as("nb"))
    val dominated = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosineQ(
        graft.functions.VectorExpressions.vdotQuantizedNative(col("qa"), col("qb")),
        col("na"), col("nb")) >= Tau)
      .select(col("id_b")).distinct()
    emb.join(dominated, emb("vec_id") === dominated("id_b"), "left_anti")
      .select(col("vec_id").as("doc_id"), col("bucket"))
  }

  def embeddingNearDupSql: String =
    s"""WITH ${Similarity.qnSqlCte}, b AS (
       |  SELECT vec_id, qvec, nsq, ${Similarity.bucketSql("qvec")} AS bucket
       |  FROM qnn
       |), dominated AS (
       |  SELECT DISTINCT y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE ${Similarity.cosSql(
                  Similarity.dotSql("x.qvec", "y.qvec"), "x.nsq", "y.nsq")} >= $Tau
       |)
       |SELECT vec_id AS doc_id, bucket FROM b
       |WHERE vec_id NOT IN (SELECT id_b FROM dominated)""".stripMargin

  /** Window length (tokens) for G12/G14's rolling-window hashing. */
  private val SpanN = 8

  /** Rolling [[SpanN]]-token window hashes per doc (doc_id, pos, h) —
    * the shared stream G12 (substring spans) and G14 (winnowing)
    * both consume; one definition so the two can't disagree about
    * what a "window" is. */
  private def windowHashes(spark: SparkSession, dir: String): DataFrame = {
    val idx = when(size(col("w")) >= SpanN,
        sequence(lit(1), size(col("w")) - (SpanN - 1)))
      .otherwise(array().cast("array<int>"))
    Tables.documents(spark, dir).select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), explode(idx).as("pos"), col("w"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("w"), col("pos"), lit(SpanN)))
          .cast("binary")).as("h"))
  }

  /** The identical window stream in DuckDB (CTEs toksw/win0/win). */
  private def windowHashesSqlCte: String =
    s"""toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '')[:60] AS w
       |  FROM documents
       |), win0 AS (
       |  SELECT doc_id, unnest(range(1, len(w) - ${SpanN - 2})) AS pos, w
       |  FROM toksw WHERE len(w) >= $SpanN
       |), win AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(w[pos:pos+${SpanN - 1}], ' ')) AS h
       |  FROM win0
       |)""".stripMargin

  /** G12 `dedup_substring_spans` — corpus-wide repeated-substring
    * report, the set-oriented re-expression of exact-substring dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better" — public): every length-[[SpanN]] token window
    * that appears verbatim in >= 2 distinct documents is "duplicated
    * text"; per document we report how many of its windows are
    * duplicated and the longest consecutive run of duplicated windows
    * (the span a dedup pass would cut). Their suffix-array build is a
    * single-machine algorithm; the Spark-native shape is rolling
    * window hashes: bounded fan-out per doc (the 60-token cap =>
    * <= 53 windows/doc), one count shuffle keyed by window hash
    * (high-cardinality, partial-agg'd), and a per-doc island
    * detection via (pos - row_number) grouping — all linear in corpus
    * size. The duplicated-hash set is corpus-derived, so no broadcast
    * hint: AQE picks the join strategy (same reasoning as G8). */
  def substringSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir).select(col("doc_id"), toks.as("w"))
    val win = windowHashes(spark, dir)
    val dup = win.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val rn = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val islands = win.join(dup, "h")
      .withColumn("grp", col("pos") - rn)
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
    val stats = islands.groupBy(col("doc_id"))
      .agg(sum(col("run")).as("dw"), max(col("run")).as("mr"))
    base
      .select(col("doc_id"),
        greatest(lit(0), size(col("w")) - (SpanN - 1)).as("n_windows"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dw"), lit(0L)).as("dup_windows"),
        coalesce(col("mr"), lit(0L)).as("max_dup_run"))
  }

  def substringSpansSql: String =
    s"""WITH $windowHashesSqlCte, dup AS (
       |  SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
       |), isl AS (
       |  SELECT doc_id,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM win JOIN dup USING (h)
       |), runs AS (
       |  SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY 1, 2
       |), stats AS (
       |  SELECT doc_id, CAST(SUM(run) AS BIGINT) AS dw, MAX(run) AS mr
       |  FROM runs GROUP BY 1
       |)
       |SELECT t.doc_id,
       |  CAST(greatest(0, len(w) - ${SpanN - 1}) AS INTEGER) AS n_windows,
       |  COALESCE(s.dw, 0) AS dup_windows,
       |  COALESCE(s.mr, 0) AS max_dup_run
       |FROM toksw t LEFT JOIN stats s ON t.doc_id = s.doc_id""".stripMargin

  private val SemCells = 16
  private val SemTau = 0.35

  /** G13 `dedup_semdedup` — semantic dedup in the shape of SemDeDup
    * (Abbas et al. 2023, public): cluster the embedding space, then
    * drop near-duplicates WITHIN each cluster (cosine >= [[SemTau]]
    * to a smaller-id member), keep everything else. Clustering here
    * is the H4 discipline — deterministic hash-picked centroids,
    * nearest-centroid assignment (the paper k-means a sample; the
    * cell mechanics are identical and exactly oracle-checkable).
    * Complements G9: same drop rule, but blocking by semantic cell
    * instead of LSH bucket. Scale: assignment is one
    * broadcast-centroids pass; the intra-cell pair join is keyed by
    * cell (never all-pairs); the drop set leaves via anti-join.
    * [[SemCells]] is the tuning knob — production uses ~sqrt(n)
    * cells so cells stay bounded. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.vdotQuantizedNative
    val emb = Similarity.quantized(spark, dir)
    // cached: the assignment subtree (cross join + rank window) feeds
    // the pair join's BOTH sides and the final anti-join — without the
    // cache Spark executes it three times (the k17 shared-subtree
    // situation). A memo entry, NOT a bare .cache(): CacheManager
    // matches canonicalized plans, so after a data rewrite a plain
    // re-cache would keep serving blocks built from the old files
    // even though quantized() itself rebuilt.
    val assigned = Memo.cached(spark, s"dedup.semAssign:$dir",
        Seq(s"$dir/embeddings.parquet")) {
      val cents = emb.orderBy(md5(col("vec_id").cast("string")))
        .limit(SemCells)
        .select(col("vec_id").as("cent_id"), col("qvec").as("cq"),
          col("nsq").as("cn"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      emb.crossJoin(broadcast(cents))
        .withColumn("cent_cos", Similarity.cosineQ(
          vdotQuantizedNative(col("qvec"), col("cq")), col("nsq"), col("cn")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("qvec"), col("nsq"),
          col("cent_id").as("cell"))
    }
    val x = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("qvec").as("qa"), col("nsq").as("na"))
    val y = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("qvec").as("qb"), col("nsq").as("nb"))
    val dominated = x.join(y, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosineQ(
        vdotQuantizedNative(col("qa"), col("qb")),
        col("na"), col("nb")) >= SemTau)
      .select(col("id_b")).distinct()
    assigned.join(dominated, assigned("vec_id") === dominated("id_b"), "left_anti")
      .select(col("vec_id").as("doc_id"), col("cell"))
  }

  def semDedupSql: String =
    s"""WITH ${Similarity.qnSqlCte}, cents AS (
       |  SELECT vec_id AS cent_id, qvec AS cq, nsq AS cn
       |  FROM qnn ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $SemCells
       |), assigned AS (
       |  SELECT vec_id, qvec, nsq, cell FROM (
       |    SELECT e.vec_id, e.qvec, e.nsq, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${Similarity.cosSql(
                  Similarity.dotSql("e.qvec", "c.cq"), "e.nsq", "c.cn")} DESC,
       |                 c.cent_id) AS arn
       |    FROM qnn e CROSS JOIN cents c
       |  ) WHERE arn = 1
       |), dominated AS (
       |  SELECT DISTINCT y.vec_id AS id_b
       |  FROM assigned x JOIN assigned y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${Similarity.cosSql(
                  Similarity.dotSql("x.qvec", "y.qvec"), "x.nsq", "y.nsq")} >= $SemTau
       |)
       |SELECT vec_id AS doc_id, cell FROM assigned
       |WHERE vec_id NOT IN (SELECT id_b FROM dominated)""".stripMargin

  private val WinnowW = 4

  /** G14 `dedup_winnowing` — winnowing fingerprint selection
    * (Schleimer et al. 2003, the MOSS algorithm — public): from each
    * doc's stream of [[SpanN]]-token window hashes, keep the minimum
    * hash of every [[WinnowW]]-length sliding window (ties to the
    * smallest position), deduplicated — the guaranteed-coverage
    * fingerprint subset (any shared run of length >= w+n-1 tokens
    * shares a selected fingerprint), at ~2/(w+1) the density of G12's
    * full hash stream. The min is taken over a string encoding
    * `hash:zero-padded-pos`, which makes the (hash, pos) lexicographic
    * tie-break portable to the oracle byte-for-byte. Scale: one
    * per-doc window pass (doc-keyed partitions) + a distinct — linear,
    * no cross-doc state; the selected set then feeds G4/G8-style
    * collision joins at a fraction of the volume. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = windowHashes(spark, dir)
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, WinnowW - 1)
    val nWin = Window.partitionBy(col("doc_id"))
    // windows shorter than WinnowW at the tail are not window starts;
    // the count guard drops them (classic winnowing definition)
    win
      .withColumn("n", count(lit(1)).over(nWin))
      .withColumn("sel",
        min(concat(col("h"), lit(":"), lpad(col("pos").cast("string"), 6, "0")))
          .over(wWin))
      .filter(col("pos") <= col("n") - (WinnowW - 1))
      .select(col("doc_id"),
        substring(col("sel"), 1, 32).as("fingerprint"),
        substring(col("sel"), 34, 6).cast("int").as("sel_pos"))
      .distinct()
  }

  def winnowingSql: String =
    s"""WITH $windowHashesSqlCte, sel AS (
       |  SELECT doc_id, pos,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
       |    MIN(h || ':' || lpad(CAST(pos AS VARCHAR), 6, '0'))
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS s
       |  FROM win
       |)
       |SELECT DISTINCT doc_id,
       |  substring(s, 1, 32) AS fingerprint,
       |  CAST(substring(s, 34, 6) AS INTEGER) AS sel_pos
       |FROM sel WHERE pos <= n - ${WinnowW - 1}""".stripMargin

  /** Tokens per line for G15's line-level dedup. */
  private val LineW = 8

  /** G15 `dedup_line_level` — corpus-wide duplicate-LINE removal with
    * document reconstruction: the C4 recipe (Raffel et al. 2020
    * dedup repeated three-sentence spans across the whole corpus,
    * keeping only the first occurrence and REWRITING the documents).
    * The synthetic docs carry no sentence boundaries, so a "line" is
    * a fixed [[LineW]]-token span; every line keeps its first global
    * occurrence (ordered by doc_id, then position) and loses the
    * rest, and each doc is reassembled from its surviving lines in
    * order. Output: per-doc line totals + the cleaned text — unlike
    * G12 (which flags span overlap) this op EDITS the corpus, which
    * is what the C4 pipeline ships downstream.
    *
    * Scale: the line explode is linear (corpus tokens / LineW rows);
    * first-occurrence election is ONE shuffle keyed by line content
    * (the same shape as G1's hash groupBy); reconstruction is a
    * doc-keyed agg over surviving lines — collect_list is bounded by
    * the DOC length, never corpus-wide. No all-pairs anywhere. */
  def lineLevel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allToks = filter(split(col("text"), " "), c => c =!= "")
    val w = col("w")
    val nLines = ((size(w) + (LineW - 1)) / LineW).cast("int")
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"), allToks.as("w"))
      .filter(size(w) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), nLines - 1),
        i => struct(i.as("line_idx"),
          concat_ws(" ", slice(w, i * LineW + 1, lit(LineW))).as("line")))).as("s"))
      .select(col("doc_id"), col("s.line_idx").as("line_idx"),
        col("s.line").as("line"))
    val firstW = Window.partitionBy(col("line"))
      .orderBy(col("doc_id"), col("line_idx"))
    val kept = lines
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") === 1)
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line"))).as("clean_text"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def lineLevelSql: String =
    s"""WITH toksl AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), ln AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, CAST(CEIL(len(w) / $LineW.0) AS BIGINT)),
       |    i -> struct_pack(line_idx := i,
       |      line := array_to_string(w[(i*$LineW+1):(i*$LineW+$LineW)], ' ')))) AS s
       |  FROM toksl WHERE len(w) > 0
       |), lines AS (
       |  SELECT doc_id, s.line_idx AS line_idx, s.line AS line FROM ln
       |), firsts AS (
       |  SELECT doc_id, line_idx, line,
       |    ROW_NUMBER() OVER (PARTITION BY line
       |                       ORDER BY doc_id, line_idx) AS rn
       |  FROM lines
       |), kept AS (
       |  SELECT doc_id, line_idx, line FROM firsts WHERE rn = 1
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY 1
       |), ka AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(line, ' ' ORDER BY line_idx) AS clean_text
       |  FROM kept GROUP BY 1
       |)
       |SELECT t.doc_id, t.n_lines,
       |  COALESCE(ka.n_kept, 0) AS n_kept,
       |  COALESCE(ka.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN ka ON t.doc_id = ka.doc_id""".stripMargin

  /** G23 `dedup_boilerplate` — frequency-thresholded TEMPLATE-line
    * removal: a [[LineW]]-token span that recurs across ≥ `minDocs`
    * DISTINCT documents of the same source is boilerplate (header/
    * footer/nav templates — the jusText/Trafilatura heuristic lifted
    * to corpus statistics) and is removed EVERYWHERE, unlike G15's
    * first-occurrence dedup which always keeps one copy. Docs are
    * rebuilt from their surviving lines; the report carries per-doc
    * totals the M9 quality funnel can gate on (a doc that was mostly
    * boilerplate shrinks to nothing).
    *
    * Scale: line explode is linear; the template census is ONE
    * (source, line)-keyed rollup (distinct-doc counts are exact —
    * count(distinct) inside a keyed agg, no corpus-wide distinct);
    * the flag attach joins on the same (source, line) key —
    * co-partitioned with the census, no broadcast of anything
    * unbounded; reconstruction is doc-keyed, collect_list bounded by
    * doc length. */
  def boilerplate(spark: SparkSession, dir: String,
                  minDocs: Int = 3): DataFrame = {
    val allToks = filter(split(col("text"), " "), c => c =!= "")
    val w = col("w")
    val nLines = ((size(w) + (LineW - 1)) / LineW).cast("int")
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), allToks.as("w"))
      .filter(size(w) > 0)
      .select(col("doc_id"), col("source"), explode(transform(
        sequence(lit(0), nLines - 1),
        i => struct(i.as("line_idx"),
          concat_ws(" ", slice(w, i * LineW + 1, lit(LineW))).as("line")))).as("s"))
      .select(col("doc_id"), col("source"),
        col("s.line_idx").as("line_idx"), col("s.line").as("line"))
    val boiler = lines.groupBy(col("source"), col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("source"), col("line"), lit(1).as("is_boiler"))
    val flagged = lines.join(boiler, Seq("source", "line"), "left")
    flagged.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler") === 1, 1L).otherwise(0L)).as("n_boiler"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("is_boiler").isNull,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  def boilerplateSql(minDocs: Int = 3): String =
    s"""WITH toksl AS (
       |  SELECT doc_id, source,
       |    list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), ln AS (
       |  SELECT doc_id, source, unnest(list_transform(
       |    range(0, CAST(CEIL(len(w) / $LineW.0) AS BIGINT)),
       |    i -> struct_pack(line_idx := i,
       |      line := array_to_string(w[(i*$LineW+1):(i*$LineW+$LineW)], ' ')))) AS s
       |  FROM toksl WHERE len(w) > 0
       |), lines AS (
       |  SELECT doc_id, source, s.line_idx AS line_idx, s.line AS line FROM ln
       |), boiler AS (
       |  SELECT source, line FROM lines
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= $minDocs
       |)
       |SELECT l.doc_id, l.source, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_boiler,
       |  COALESCE(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
       |    ' ' ORDER BY l.line_idx), '') AS clean_text
       |FROM lines l
       |LEFT JOIN boiler b ON l.source = b.source AND l.line = b.line
       |GROUP BY 1, 2""".stripMargin

  /** G24 `dedup_source_overlap` — pairwise SOURCE-overlap matrix:
    * exact shingle-set Jaccard and containment between every pair of
    * sources — the corpus diagnostic behind mixing decisions ("is
    * source B mostly a recrawl of source A?") and the macro view of
    * what G8/G16 measure doc-by-doc. Containment uses the SMALLER
    * side (a small source fully embedded in a big one shows 1.0 where
    * Jaccard would dilute it — the asymmetry that actually flags
    * recrawls). All ratios divide exact integers (bit-identical
    * cross-engine, no rounding needed).
    *
    * Scale: NEVER pairs shingles across the corpus — each shingle row
    * carries its (bounded, ≤ n_sources) source set from one
    * shingle-keyed rollup, pair expansion is map-side over that array
    * (K30's mechanic, ≤ sources² per shingle), and the final matrix
    * is sources² rows; the size attach is a bounded broadcast. One
    * linear shingle pass + two keyed rollups. */
  def sourceOverlap(spark: SparkSession, dir: String,
                    n: Int = 3): DataFrame = {
    val ss = shingles(spark, dir, n)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("source"), col("shingle")).distinct()
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val inter = ss.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_sh").as("size_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_sh").as("size_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        col("size_a"), col("size_b"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .as("jaccard"),
        (col("inter").cast("double") /
          least(col("size_a"), col("size_b")).cast("double"))
          .as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def sourceOverlapSql(n: Int = 3): String =
    s"""WITH ${shinglesSql(n)},
       |ss AS (
       |  SELECT DISTINCT d.source, s.shingle
       |  FROM sh s JOIN documents d ON s.doc_id = d.doc_id
       |), sizes AS (
       |  SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY 1
       |), inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    COUNT(*) AS inter
       |  FROM ss a JOIN ss b
       |    ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT i.source_a, i.source_b, i.inter,
       |  sa.n_sh AS size_a, sb.n_sh AS size_b,
       |  CAST(i.inter AS DOUBLE)
       |    / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard,
       |  CAST(i.inter AS DOUBLE)
       |    / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
       |FROM inter i
       |JOIN sizes sa ON sa.source = i.source_a
       |JOIN sizes sb ON sb.source = i.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** G22 `dedup_novelty_fraction` — incremental n-gram novelty (the
    * dataset-curation signal behind "is this document adding
    * anything": RefinedWeb/FineWeb-style corpus audits): per doc, the
    * fraction of its distinct trigram shingles whose FIRST occurrence
    * (min doc_id over the corpus — the deterministic stand-in for
    * ingest order) is this document. Early docs score ~1, late
    * near-duplicates ~0; the corpus-wide novelty curve is the
    * diminishing-returns estimate data collection planning reads.
    * Scale: exactly the G8 shape — one shingle-keyed partial-agg
    * (min doc) + one shingle-keyed join back + a doc-keyed rollup,
    * all linear; no pairwise anything. Docs shorter than the shingle
    * width have no shingles and are absent, documented. */
  def noveltyFraction(spark: SparkSession, dir: String,
                      n: Int = 3): DataFrame = {
    val sh = shingles(spark, dir, n)
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  def noveltyFractionSql(n: Int = 3): String =
    s"""WITH ${shinglesSql(n)},
       |first AS (
       |  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
       |)
       |SELECT sh.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  ROUND(CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS novelty_frac
       |FROM sh JOIN first ON sh.shingle = first.shingle
       |GROUP BY 1""".stripMargin

  /** G27 `dedup_fuzzy_join` — entity-resolution-style fuzzy matching
    * via BLOCKING + edit-distance verification: distinct part names
    * (name-level dedup first — 2,000 parts collapse to ~100 distinct
    * "adjective noun" strings, the ER move that keeps the verify set
    * at type not token cardinality) are candidate-paired only within
    * a block (same last token = the head noun, plus the textbook
    * |len(a)−len(b)| ≤ d length prefilter — a Levenshtein lower
    * bound), then verified with exact edit distance ≤ d. Serves the
    * matched pairs with their distance and how many rows each name
    * represents — the survivorship input. Blocking is the documented
    * recall trade (cross-block matches are unfindable by
    * construction; that is what makes the join linear-ish in blocks
    * instead of quadratic in names). levenshtein() is the same plain
    * edit distance in Spark and DuckDB — the one string-similarity
    * primitive both engines share natively.
    *
    * Scale: name-distinct rollup is one linear shuffle; the self-join
    * is equi-keyed on the block (shuffle-hash on block key), with the
    * quadratic bounded per block; at 100 TB blocks are (noun, length
    * bucket) and hot blocks split by a salt — the G-family salting
    * story applies unchanged. */
  def fuzzyJoin(spark: SparkSession, dir: String,
                maxDist: Int = 2): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
      .withColumn("len", length(col("name")))
    val a = names.select(col("name").as("name_a"), col("n_parts").as("n_a"),
      col("block"), col("len").as("len_a"))
    val b = names.select(col("name").as("name_b"), col("n_parts").as("n_b"),
      col("block").as("block_b"), col("len").as("len_b"))
    a.join(b, col("block") === col("block_b") &&
        col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"))
  }

  def fuzzyJoinSql(maxDist: Int = 2): String =
    s"""WITH names AS (
       |  SELECT p_name AS name, COUNT(*) AS n_parts,
       |    str_split(p_name, ' ')[-1] AS block,
       |    length(p_name) AS len
       |  FROM part GROUP BY 1
       |)
       |SELECT a.name AS name_a, b.name AS name_b,
       |  levenshtein(a.name, b.name) AS dist,
       |  a.n_parts AS n_a, b.n_parts AS n_b
       |FROM names a JOIN names b
       |  ON a.block = b.block AND a.name < b.name
       |  AND abs(a.len - b.len) <= $maxDist
       |WHERE levenshtein(a.name, b.name) <= $maxDist""".stripMargin

  // ---------------------------------------------------------------- G28
  /** Deterministic URL synthesis — the corpus has no URL column, so
    * each doc gets one built from its id (the M1/M18/C7 injection
    * discipline), with every real-world variant class planted by
    * modular arithmetic: scheme (http/https, every 19th uppercase
    * host), www prefix, explicit default port, a REAL query param
    * that must SURVIVE canonicalization (?id=7), tracking params that
    * must NOT (utm_*), fragments, and trailing slashes. Group
    * structure: (site, path) repeats every 200 ids, so genuine
    * duplicate clusters exist at every SF. */
  private[graft] def rawUrl: Column = {
    val up = pmod(col("doc_id"), lit(19)) === 0
    val https = pmod(col("doc_id"), lit(2)) === 0
    concat(
      when(https, lit("https://")).otherwise(lit("http://")),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("www.")).otherwise(lit("")),
      when(up, concat(lit("SITE"), pmod(col("doc_id"), lit(50)),
        lit(".EXAMPLE.com")))
        .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(50)),
          lit(".example.com"))),
      when(pmod(col("doc_id"), lit(5)) === 0,
        when(https, lit(":443")).otherwise(lit(":80"))).otherwise(lit("")),
      concat(lit("/p/"), pmod(col("doc_id"), lit(200))),
      when(pmod(col("doc_id"), lit(17)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0, lit("?id=7"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit("&utm_source=feed&utm_campaign=x"))
          .otherwise(lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 0, lit("#sec2"))
        .otherwise(lit("")))
  }

  /** The canonicalization chain, shared batch semantics with the
    * oracle: lowercase → strip scheme → strip www. → strip explicit
    * default port → strip fragment → (optionally) strip utm_*
    * tracking params → merge the path/query slash → strip the
    * trailing slash. Backreference-free regexes (Java `$1` vs RE2
    * `\\1` replacement syntax diverges — plain `replace` covers the
    * port/slash merges instead). */
  private[graft] def canonicalUrl(url: Column, stripUtm: Boolean): Column = {
    val lowered = lower(url)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noPort = regexp_replace(regexp_replace(noWww,
      ":443/", "/"), ":80/", "/")
    val noFrag = split_part(noPort, lit("#"), lit(1))
    val noUtm = if (stripUtm)
      regexp_replace(noFrag, "[?&]utm_[a-z]+=[^&#]*", "") else noFrag
    regexp_replace(regexp_replace(noUtm, "/\\?", "?"), "/$", "")
  }

  /** G28 `dedup_url_canonical` — URL canonicalization + dedup, the
    * FIRST dedup stage of every web-scale corpus pipeline (CCNet /
    * RefinedWeb / C4 run it before any content hash touches bytes —
    * it's the only dedup that costs one string kernel per row): raw
    * URLs collapse to a canonical form (lowercase, scheme/www/default-
    * port/fragment/trailing-slash stripped, utm_* tracking params
    * removed, REAL params kept), and documents group by it — served
    * per canonical URL with the doc count, distinct raw variant
    * count, the deterministic keeper (min doc_id — G1's rule), and
    * per-rule variant counters so a canonicalization regression is
    * visible as a counter move. `param_` runs the CONSERVATIVE mode
    * (tracking params kept) — strictly fewer merges, the knob's
    * safety direction. Scale: one codegen'd string pass + one
    * canonical-keyed rollup — no shingles, no pairs, the cheapest
    * member of the G family by construction. */
  def urlCanonical(spark: SparkSession, dir: String,
                   stripUtm: Boolean = true): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), rawUrl.as("url"))
      .select(col("doc_id"), col("url"),
        canonicalUrl(col("url"), stripUtm).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_variants"),
        min(col("doc_id")).as("keeper_doc_id"),
        sum(when(col("url").rlike("^https?://www\\.|^https?://WWW\\."), 1L)
          .otherwise(0L)).as("n_www"),
        sum(when(col("url").rlike(":(443|80)/"), 1L).otherwise(0L))
          .as("n_port"),
        sum(when(col("url").rlike("[?&]utm_"), 1L).otherwise(0L))
          .as("n_utm"),
        sum(when(col("url").contains("#"), 1L).otherwise(0L))
          .as("n_fragment"))
      .orderBy(col("canonical_url"))

  /** The raw-URL synthesis + canonicalization as reusable CTEs
    * (`raw(doc_id, url)`, `canon(doc_id, url, canonical_url)`) —
    * shared by the G28 oracle and P5's datasheet composite. */
  private[operators] def urlCanonSqlCtes(stripUtm: Boolean = true): String = {
    val utmStep = if (stripUtm)
      "regexp_replace(nofrag, '[?&]utm_[a-z]+=[^&#]*', '', 'g')"
    else "nofrag"
    s"""raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
       |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
       |    || (CASE WHEN doc_id % 19 = 0
       |        THEN 'SITE' || (doc_id % 50) || '.EXAMPLE.com'
       |        ELSE 'site' || (doc_id % 50) || '.example.com' END)
       |    || (CASE WHEN doc_id % 5 = 0 THEN
       |          CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       |        ELSE '' END)
       |    || '/p/' || (doc_id % 200)
       |    || (CASE WHEN doc_id % 17 = 0 THEN '/' ELSE '' END)
       |    || (CASE WHEN doc_id % 11 = 0 THEN '?id=7' ELSE '' END)
       |    || (CASE WHEN doc_id % 7 = 0 THEN
       |          CASE WHEN doc_id % 11 = 0
       |            THEN '&utm_source=feed&utm_campaign=x'
       |            ELSE '?utm_source=feed&utm_campaign=x' END
       |        ELSE '' END)
       |    || (CASE WHEN doc_id % 13 = 0 THEN '#sec2' ELSE '' END) AS url
       |  FROM documents
       |), canon AS (
       |  SELECT doc_id, url,
       |    regexp_replace(regexp_replace($utmStep, '/\\?', '?'), '/$$', '')
       |      AS canonical_url
       |  FROM (
       |    SELECT doc_id, url,
       |      split_part(
       |        replace(replace(
       |          regexp_replace(regexp_replace(lower(url),
       |            '^https?://', ''), '^www\\.', ''),
       |          ':443/', '/'), ':80/', '/'),
       |        '#', 1) AS nofrag
       |    FROM raw)
       |)""".stripMargin
  }

  // the CTE fragment contains `||` concatenations at line starts, so
  // it must be concatenated OUTSIDE the stripMargin string (an
  // interpolated `||` after a margin strip reads as bitwise OR)
  def urlCanonicalSql(stripUtm: Boolean = true): String =
    "WITH " + urlCanonSqlCtes(stripUtm) + "\n" +
    s"""SELECT canonical_url, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT url) AS n_raw_variants,
       |  MIN(doc_id) AS keeper_doc_id,
       |  CAST(SUM(CASE WHEN regexp_matches(url,
       |    '^https?://www\\.|^https?://WWW\\.') THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_www,
       |  CAST(SUM(CASE WHEN regexp_matches(url, ':(443|80)/')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_port,
       |  CAST(SUM(CASE WHEN regexp_matches(url, '[?&]utm_')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_utm,
       |  CAST(SUM(CASE WHEN contains(url, '#') THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_fragment
       |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin

  val registry: Seq[(String, Entry)] = Seq(
    // countDistinct(url) expands to a two-phase agg beside the other
    // aggregates (2) + the bounded ordered serve (1)
    "dedup_url_canonical" -> Entry((s, d) => urlCanonical(s, d), urlCanonicalSql(), shuffles = 3),
    "param_url_canonical" -> Entry((s, d) => urlCanonical(s, d, stripUtm = false),
      urlCanonicalSql(stripUtm = false), shuffles = 3),
    "dedup_fuzzy_join" -> Entry((s, d) => fuzzyJoin(s, d), fuzzyJoinSql(), shuffles = 2),
    "param_fuzzy_join" -> Entry((s, d) => fuzzyJoin(s, d, maxDist = 1), fuzzyJoinSql(maxDist = 1),
      shuffles = 2),
    "dedup_novelty_fraction" -> Entry((s, d) => noveltyFraction(s, d), noveltyFractionSql(),
      shuffles = 3), // shingle first-doc agg + shingle join-back + doc rollup
    "dedup_line_level" -> Entry(lineLevel _, lineLevelSql, shuffles = 3),
    "dedup_source_overlap" -> Entry((s, d) => sourceOverlap(s, d), sourceOverlapSql(),
      shuffles = 8), // shingle distinct + doc join + source distinct + 2 rollups; size attaches broadcast
    "param_source_overlap" -> Entry((s, d) => sourceOverlap(s, d, n = 2), sourceOverlapSql(n = 2),
      shuffles = 8),
    "dedup_boilerplate" -> Entry((s, d) => boilerplate(s, d), boilerplateSql(),
      shuffles = 3), // line census rollup + flag join + doc rebuild
    "param_boilerplate" -> Entry((s, d) => boilerplate(s, d, minDocs = 2),
      boilerplateSql(minDocs = 2), shuffles = 3),
    "dedup_contamination_frac" -> Entry(contaminationFrac _, contaminationFracSql, shuffles = 3),
    "dedup_minhash_estimate" -> Entry(minhashEstimate _, minhashEstimateSql,
      shuffles = 2), // sig agg (self-join side reused) + distinct
    "dedup_winnowing" -> Entry(winnowing _, winnowingSql, shuffles = 1),
    "dedup_semdedup" -> Entry(semDedup _, semDedupSql, shuffles = 1,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "dedup_substring_spans" -> Entry(substringSpans _, substringSpansSql, shuffles = 3),
    "dedup_embedding_neardup" -> Entry(embeddingNearDup _, embeddingNearDupSql, shuffles = 2,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "dedup_clusters" -> Entry(clusters _, clustersSql, shuffles = 0),
    "dedup_keep_corpus" -> Entry(keepCorpus _, keepCorpusSql, shuffles = 2),
    "dedup_decontaminate" -> Entry(decontaminate _, decontaminateSql, shuffles = 1),
    "dedup_bloom_decontaminate" -> Entry(bloomDecontaminate _, bloomDecontaminateSql, shuffles = 3),
    "dedup_exact" -> Entry(exact _, exactSql, shuffles = 1),
    "dedup_fingerprint" -> Entry(fingerprint _, fingerprintSql, shuffles = 1),
    "dedup_ngram_jaccard" -> Entry(ngramJaccard _, ngramJaccardSql, shuffles = 3),
    "dedup_apss_prefix" -> Entry((s, d) => apssPrefix(s, d), apssPrefixSql(),
      shuffles = 6), // df agg + prefix window + candidate join + verify joins, all keyed
    "param_apss_prefix" -> Entry((s, d) => apssPrefix(s, d, t = 0.8), apssPrefixSql(t = 0.8),
      shuffles = 6),
    "dedup_lsh_recall" -> Entry(lshRecall _, lshRecallSql,
      shuffles = 5), // truth/candidate pair-set join + band rollup (APSS state is cached)
    "dedup_minhash_lsh" -> Entry((s, d) => minhashLsh(s, d), minhashLshSql, shuffles = 2),
    "param_minhash_lsh" -> Entry((s, d) => minhashLsh(s, d, nHashes = 8, bandRows = 2),
      minhashLshSqlAt(nHashes = 8, bandRows = 2), shuffles = 2),
    "dedup_simhash" -> Entry(simhash _, simhashSql, shuffles = 1),
    "dedup_simhash_hamming" -> Entry((s, d) => simhashHammingPairs(s, d), simhashHammingSql(),
      shuffles = 1), // sig agg; band sides reuse the exchange
    "param_simhash_hamming" -> Entry((s, d) => simhashHammingPairs(s, d, maxHamming = 2),
      simhashHammingSql(maxHamming = 2), shuffles = 1))
}
