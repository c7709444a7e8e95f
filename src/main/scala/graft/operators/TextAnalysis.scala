package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Entry, Memo, Registered, Tables}
import graft.Ckpt.CutOps

/** Text-analysis operators for training-data pipelines (SURVEY §2.I):
  * language ID, quality scoring, token counting, rolling-hash
  * fingerprinting. All pure Column pipelines (codegen'd higher-order
  * functions — no UDFs), so they scale as narrow scan-project stages.
  *
  * Cross-engine determinism: ratios divide exact integers (IEEE
  * doubles are then bit-identical in Spark and DuckDB), and hashes are
  * md5/polynomial-mod arithmetic, not engine-native hash functions.
  */
object TextAnalysis extends Registered {

  private def nonEmptyToks: Column = filter(split(col("text"), " "), c => c =!= "")

  private def docsSrc(dir: String): Seq[String] = Seq(s"$dir/documents.parquet")

  /** Marker stopword sets per language (tiny n-gram heuristic in the
    * spirit of a language-ID pass; the synthetic corpus is English-ish
    * so 'en' dominates — the mechanism is what matters). Fixed
    * priority order for deterministic argmax ties. */
  val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "los", "las", "que", "por"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("的", "了", "是"))

  /** I1 `text_lang_id` — language ID: count marker-token hits per
    * language, argmax with deterministic lang-order tie-break. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scoreCols = langs.map { case (l, ws) =>
      size(filter(nonEmptyToks, t => t.isin(ws.map(lit): _*).cast("boolean")))
        .as(s"score_$l")
    }
    val scored = Tables.documents(spark, dir)
      .select((col("doc_id") +: scoreCols): _*)
    // argmax in fixed order: first language whose score >= all others
    val predicted = langs.map(_._1).foldRight(lit("und")) { case (l, els) =>
      val ge = langs.map(_._1).filter(_ != l)
        .map(o => col(s"score_$l") >= col(s"score_$o")).reduce(_ && _)
      when(ge && col(s"score_$l") > 0, lit(l)).otherwise(els)
    }
    scored.withColumn("predicted_lang", predicted)
  }

  def langIdSql: String = {
    val scores = langs.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(list_filter(str_split(text, ' '), x -> x <> ''), t -> t IN ($list))) AS score_$l"
    }.mkString(",\n  ")
    val pred = langs.map { case (l, _) =>
      val ge = langs.map(_._1).filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $ge AND score_$l > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, ${langs.map(l => s"score_${l._1}").mkString(", ")},
       |  CASE $pred ELSE 'und' END AS predicted_lang
       |FROM (
       |  SELECT doc_id,
       |  $scores
       |  FROM documents
       |)""".stripMargin
  }

  private val stopwords = Seq("the", "a", "and", "of", "is", "to", "in", "for")

  /** I2 `text_quality_score` — composite quality signal from length,
    * stopword density, punctuation and word-shape ratios (the classic
    * pre-training quality filters). All components are exact-int
    * ratios -> identical doubles in both engines. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nToks = size(nonEmptyToks).cast("double")
    val nChars = length(col("text")).cast("double")
    val stopToks = size(filter(nonEmptyToks,
      t => t.isin(stopwords.map(lit): _*).cast("boolean"))).cast("double")
    // keep-class includes A-Z (capitalized text is not punctuation —
    // same fix as the M9 funnel; lowercase corpus, identical results)
    val punctChars = length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double")
    val wordChars = length(regexp_replace(col("text"), " ", "")).cast("double")
    val lenScore = least(lit(1.0), nToks / 100.0)
    val stopRatio = stopToks / nToks
    val punctRatio = punctChars / nChars
    val avgWordLen = wordChars / nToks
    val wordLenScore = when(avgWordLen >= 3.0 && avgWordLen <= 8.0, 1.0).otherwise(0.5)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nToks.as("n_tokens"),
      stopRatio.as("stopword_ratio"),
      punctRatio.as("punct_ratio"),
      avgWordLen.as("avg_word_len"),
      (lenScore * 0.3 + stopRatio * 0.3 + (lit(1.0) - punctRatio) * 0.2
        + wordLenScore * 0.2).as("quality"))
  }

  def qualityScoreSql: String =
    """SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, avg_word_len,
      |  least(1.0::DOUBLE, n_tokens / 100.0::DOUBLE) * 0.3::DOUBLE
      |    + stopword_ratio * 0.3::DOUBLE
      |    + (1.0::DOUBLE - punct_ratio) * 0.2::DOUBLE
      |    + (CASE WHEN avg_word_len >= 3.0::DOUBLE AND avg_word_len <= 8.0::DOUBLE
      |            THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.2::DOUBLE AS quality
      |FROM (
      |  SELECT doc_id,
      |    len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE AS n_tokens,
      |    len(list_filter(str_split(text, ' '),
      |      x -> x IN ('the','a','and','of','is','to','in','for')))::DOUBLE
      |      / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
      |      AS stopword_ratio,
      |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
      |      / length(text)::DOUBLE AS punct_ratio,
      |    length(replace(text, ' ', ''))::DOUBLE
      |      / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
      |      AS avg_word_len
      |  FROM documents
      |)""".stripMargin

  /** I28 `text_quality_calibrate` — CROSS-SOURCE calibration of the I2
    * quality score: a raw quality threshold applied uniformly
    * over-selects from sources whose score distribution happens to sit
    * higher (the classic miscalibrated-classifier failure in corpus
    * curation), so each document is re-scored by its quantile bucket
    * WITHIN its own source and selection quotas apply per source. The
    * K29 economics deliberately: bucket boundaries come from one
    * per-source percentile_disc aggregate (a |sources|-row broadcast)
    * and every document classifies itself by comparison
    * (bucket = 1 + Σ quality > q_k) — broadcast + map, NO per-source
    * global sort / percent_rank over corpus-sized partitions. Serves
    * doc_id, source, the raw score, the within-source bucket (1..n),
    * and the keep flag for the top-30% per-source quota.
    * percentile_disc ≡ DuckDB quantile_disc (both: smallest rank
    * ≥ p·n — verified including the ceil-boundary cases). */
  def qualityCalibrate(spark: SparkSession, dir: String,
                       nBuckets: Int = 10): DataFrame = {
    val nToks = size(nonEmptyToks).cast("double")
    val nChars = length(col("text")).cast("double")
    val stopToks = size(filter(nonEmptyToks,
      t => t.isin(stopwords.map(lit): _*).cast("boolean"))).cast("double")
    val punctChars = length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double")
    val wordChars = length(regexp_replace(col("text"), " ", "")).cast("double")
    val lenScore = least(lit(1.0), nToks / 100.0)
    val stopRatio = stopToks / nToks
    val punctRatio = punctChars / nChars
    val avgWordLen = wordChars / nToks
    val wordLenScore = when(avgWordLen >= 3.0 && avgWordLen <= 8.0, 1.0).otherwise(0.5)
    val q = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      (lenScore * 0.3 + stopRatio * 0.3 + (lit(1.0) - punctRatio) * 0.2
        + wordLenScore * 0.2).as("quality"))
    val ps = (1 until nBuckets).map(k => f"${k.toDouble / nBuckets}%.6f")
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY quality)")
        .as(s"d${i + 1}") }
    val th = q.groupBy(col("source").as("s_src"))
      .agg(aggs.head, aggs.tail: _*)
    val bucket = (1 until nBuckets).map(k => (col("quality") > col(s"d$k")).cast("int"))
      .foldLeft(lit(1))(_ + _)
    val keepMin = (0.7 * nBuckets).toInt + 1
    q.join(broadcast(th), col("source") === col("s_src"))
      .select(col("doc_id"), col("source"),
        round(col("quality"), 6).as("quality"),
        bucket.as("bucket"),
        (bucket >= keepMin).as("keep_top"))
  }

  def qualityCalibrateSql(nBuckets: Int = 10): String = {
    val ps = (1 until nBuckets).map(k => f"${k.toDouble / nBuckets}%.6f")
    val thCols = ps.zipWithIndex.map { case (p, i) =>
      s"quantile_disc(quality, $p) AS d${i + 1}" }.mkString(",\n      |    ")
    val bucketExpr = "1" + (1 until nBuckets)
      .map(k => s" + CAST(quality > d$k AS INT)").mkString
    val keepMin = (0.7 * nBuckets).toInt + 1
    s"""WITH q AS (
      |  SELECT doc_id, source,
      |    least(1.0::DOUBLE, n_tokens / 100.0::DOUBLE) * 0.3::DOUBLE
      |      + stopword_ratio * 0.3::DOUBLE
      |      + (1.0::DOUBLE - punct_ratio) * 0.2::DOUBLE
      |      + (CASE WHEN avg_word_len >= 3.0::DOUBLE AND avg_word_len <= 8.0::DOUBLE
      |              THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.2::DOUBLE AS quality
      |  FROM (
      |    SELECT doc_id, source,
      |      len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE AS n_tokens,
      |      len(list_filter(str_split(text, ' '),
      |        x -> x IN ('the','a','and','of','is','to','in','for')))::DOUBLE
      |        / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
      |        AS stopword_ratio,
      |      length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
      |        / length(text)::DOUBLE AS punct_ratio,
      |      length(replace(text, ' ', ''))::DOUBLE
      |        / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
      |        AS avg_word_len
      |    FROM documents
      |  )
      |), th AS (
      |  SELECT source AS s_src,
      |    $thCols
      |  FROM q GROUP BY 1
      |)
      |SELECT doc_id, source, ROUND(quality, 6) AS quality,
      |  $bucketExpr AS bucket,
      |  ($bucketExpr) >= $keepMin AS keep_top
      |FROM q JOIN th ON source = s_src""".stripMargin
  }

  /** I29 `text_distinctive_terms` — "fightin' words" distinctive-term
    * comparison of two sources (Monroe, Colaresi & Quinn 2008):
    * per-token log-odds-ratio delta between sources A and B with an
    * INFORMATIVE Dirichlet prior scaled from the full-corpus
    * distribution (α_w = α₀·y_w/n — the prior is what stops rare
    * words with 1-vs-0 counts from topping the list, the failure mode
    * of raw log-odds and of PMI-style contrast), plus the z-score
    * δ/√(1/(y_A+α_w) + 1/(y_B+α_w)) — the tool for "what vocabulary
    * distinguishes source A from source B" in corpus triage,
    * complementing I21/I26 which score distribution distance without
    * naming the terms responsible.
    *
    * Determinism: all counts exact from one token rollup; δ and z are
    * fixed IEEE shapes (ln/sqrt on identical doubles) rounded 6dp at
    * serve — the I6/I17 transcendental discipline. Scale: ONE
    * token-keyed linear shuffle (conditional counts fold A/B/corpus
    * into the same rollup — no per-source scans), a 1-row totals
    * attach, everything after at vocabulary cardinality. */
  def distinctiveTerms(spark: SparkSession, dir: String,
                       srcA: String = "src0", srcB: String = "src1",
                       alpha0: Double = 100.0): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(nonEmptyToks).as("token"))
      .groupBy(col("token")).agg(
        count(lit(1)).as("y_all"),
        count(when(col("source") === srcA, lit(1))).as("y_a"),
        count(when(col("source") === srcB, lit(1))).as("y_b"))
    val tot = counts.agg(sum(col("y_all")).as("n_all"),
      sum(col("y_a")).as("n_a"), sum(col("y_b")).as("n_b"))
    val aw = lit(alpha0) * col("y_all").cast("double") / col("n_all").cast("double")
    val da = log(col("y_a").cast("double") + aw) -
      log(col("n_a").cast("double") + lit(alpha0) - col("y_a").cast("double") - aw)
    val db = log(col("y_b").cast("double") + aw) -
      log(col("n_b").cast("double") + lit(alpha0) - col("y_b").cast("double") - aw)
    val sig2 = lit(1.0) / (col("y_a").cast("double") + aw) +
      lit(1.0) / (col("y_b").cast("double") + aw)
    counts.crossJoin(broadcast(tot))
      .filter(col("y_a") + col("y_b") > 0)
      .select(col("token"), col("y_a"), col("y_b"), col("y_all"),
        round(da - db, 6).as("log_odds"),
        round((da - db) / sqrt(sig2), 6).as("z"))
  }

  def distinctiveTermsSql(srcA: String = "src0", srcB: String = "src1",
                          alpha0: Double = 100.0): String =
    s"""WITH t AS (
       |  SELECT source,
       |    unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents
       |), counts AS (
       |  SELECT token, COUNT(*) AS y_all,
       |    COUNT(CASE WHEN source = '$srcA' THEN 1 END) AS y_a,
       |    COUNT(CASE WHEN source = '$srcB' THEN 1 END) AS y_b
       |  FROM t GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(y_all) AS BIGINT) AS n_all,
       |    CAST(SUM(y_a) AS BIGINT) AS n_a, CAST(SUM(y_b) AS BIGINT) AS n_b
       |  FROM counts
       |)
       |SELECT token, y_a, y_b, y_all,
       |  ROUND((ln(CAST(y_a AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       |    - ln(CAST(n_a AS DOUBLE) + $alpha0 - CAST(y_a AS DOUBLE) - $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
       |   - (ln(CAST(y_b AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       |    - ln(CAST(n_b AS DOUBLE) + $alpha0 - CAST(y_b AS DOUBLE) - $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))), 6)
       |    AS log_odds,
       |  ROUND(((ln(CAST(y_a AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       |    - ln(CAST(n_a AS DOUBLE) + $alpha0 - CAST(y_a AS DOUBLE) - $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
       |   - (ln(CAST(y_b AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       |    - ln(CAST(n_b AS DOUBLE) + $alpha0 - CAST(y_b AS DOUBLE) - $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))))
       |   / sqrt(1.0 / (CAST(y_a AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       |        + 1.0 / (CAST(y_b AS DOUBLE) + $alpha0 * CAST(y_all AS DOUBLE) / CAST(n_all AS DOUBLE))), 6) AS z
       |FROM counts CROSS JOIN tot
       |WHERE y_a + y_b > 0""".stripMargin

  /** I3 `text_token_count` — whitespace tokens plus a BPE-ish regex
    * tokenization (letter runs | digit runs | single symbols), the
    * standard cheap token estimator. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(nonEmptyToks).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).as("bpe_ish_tokens"),
      length(col("text")).as("n_chars"))

  def tokenCountSql: String =
    """SELECT doc_id,
      |  len(list_filter(str_split(text, ' '), x -> x <> '')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
      |    AS bpe_ish_tokens,
      |  length(text) AS n_chars
      |FROM documents""".stripMargin

  /** I4 `text_rolling_fingerprint` — polynomial rolling hash over the
    * character stream (base 31 mod 1e9+7 — modulus small enough that
    * acc*31+c never overflows a long, so no engine-specific overflow
    * semantics). Uses aggregate(): codegen'd fold, no UDF. */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val chars = filter(split(col("text"), ""), c => c =!= "")
    val fp = aggregate(chars, lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(1000000007L)))
    Tables.documents(spark, dir, fan = true)
      .select(col("doc_id"), fp.as("fingerprint"))
  }

  def rollingFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |FROM documents""".stripMargin

  /** I5 `text_tfidf_top_terms` — top-3 terms per document by TF-IDF.
    * tf/df are exact ints; idf = ln(N/df) and the product are IEEE
    * doubles identical in both engines; ties broken by term. Scale:
    * one explode+groupBy for tf, a broadcast-sized df table (vocab),
    * a broadcast join back, and a per-doc window — the classic
    * document-term pipeline with no O(n^2) step. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(nonEmptyToks).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      // report tfidf rounded: ln() is not correctly rounded and Java
      // vs libm differ in the last ULP (ranking is unaffected — equal
      // (tf, df) give bit-equal tfidf within each engine)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  def tfidfTopTermsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * ln((SELECT COUNT(*) FROM documents)::DOUBLE / df.df::DOUBLE)
      |      AS tfidf
      |  FROM tf JOIN df ON tf.term = df.term
      |)
      |SELECT doc_id, rank, term, tf, df, ROUND(tfidf, 6) AS tfidf FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf DESC, term) AS rank
      |  FROM scored
      |) WHERE rank <= 3""".stripMargin

  private val VocabK = 20

  /** I6 `text_unigram_surprisal` — unigram-LM quality score (the
    * CCNet-style LM filter for pre-training data): corpus unigram
    * probabilities from the top-VocabK tokens, per-doc mean surprisal
    * `-ln p(token)`, OOV tokens scored at the floor probability
    * 1/total. Cross-engine determinism: per-token surprisal is
    * rounded to 6 dp (ln's last-ULP hazard, see I5) then summed as
    * DECIMAL(18,9) — exact integer arithmetic, so the mean is
    * summation-order-insensitive. Scale: one explode+groupBy for
    * counts, a bounded (VocabK-row) broadcast vocab, one per-doc agg
    * — no unbounded broadcast, no second pass. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(nonEmptyToks).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.select(sum(col("cnt")).as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("token")).limit(VocabK)
    toks.join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(total))
      .withColumn("surp",
        round(-log(coalesce(col("cnt").cast("double"), lit(1.0)) /
          col("total").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("surp")).cast("double") / count(lit(1))).as("surprisal"))
  }

  /** Bounded category count for I21's distributions (top tokens +
    * one pooled OOV bucket). */
  private val KlVocabK = 200

  /** I21 `text_kl_divergence` — per-source vocabulary KL divergence
    * from the whole-corpus distribution: the domain-shift measure a
    * mix planner reads before weighting sources (the token-level
    * counterpart of F20's PSI on event streams, and the distance
    * under DSIR's importance weighting, I8). Distributions are over a
    * BOUNDED category set — the top-[[KlVocabK]] corpus tokens plus a
    * pooled `<oov>` bucket — with add-one smoothing over the realized
    * categories, so KL(P_src ‖ Q_corpus) is finite and well-defined
    * for every source.
    *
    * Cross-engine exactness (I6's recipe, tightened): the only
    * transcendental is the per-category log-ratio (each BIGINT factor
    * cast to double BEFORE the multiply — the exact integer product
    * overflows 2^63 at 100 TB token counts), rounded to 9 dp and cast
    * DECIMAL(18,9); it is then weighted by the smoothed count cast
    * DECIMAL(19,0) — product DECIMAL(38,9), inside Spark's 38-digit
    * cap with NO precision loss — and summed in decimal — exact,
    * order-insensitive — with ONE double division by the integer
    * total at the end, rounded to 6. Scale: one explode+rollup for
    * counts (token-keyed
    * shuffle, linear), a KlVocabK-row broadcast vocab, and a
    * sources × categories grid that is broadcast-sized by
    * construction (sources is a bounded dimension; categories ≤
    * KlVocabK+1). */
  def klDivergence(spark: SparkSession, dir: String,
                   vocabK: Int = KlVocabK): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(nonEmptyToks).as("token"))
    val corpus = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val vocab = corpus.orderBy(col("c").desc, col("token")).limit(vocabK)
      .select(col("token"), lit(1).as("inv"))
    val cat = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("source"),
        when(col("inv").isNotNull, col("token")).otherwise(lit("<oov>")).as("cat"))
    val q = cat.groupBy(col("cat")).agg(count(lit(1)).as("c_corpus"))
    val qTot = q.agg(sum(col("c_corpus")).as("n_corpus"),
      count(lit(1)).as("n_cats"))
    val p = cat.groupBy(col("source"), col("cat")).agg(count(lit(1)).as("c_src"))
    val pTot = p.groupBy(col("source")).agg(sum(col("c_src")).as("n_src"))
    pTot.crossJoin(broadcast(q))
      .join(p, Seq("source", "cat"), "left")
      .na.fill(0L, Seq("c_src"))
      .crossJoin(broadcast(qTot))
      // each factor cast to double BEFORE the multiply: the exact
      // BIGINT product (c_src+1)*(n_corpus+n_cats) exceeds 2^63 at
      // the 100 TB design point (token counts ~1e13) and non-ANSI
      // Spark would wrap silently — the O1 pagerank overflow class.
      .withColumn("lr", round(
        log((col("c_src") + 1).cast("double") *
          (col("n_corpus") + col("n_cats")).cast("double") /
          ((col("n_src") + col("n_cats")).cast("double") *
            (col("c_corpus") + 1).cast("double"))), 9)
        .cast(DecimalType(18, 9)))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_tokens"),
        max(col("n_cats")).as("n_cats"),
        // degreeDist's round-then-decimal-sum rule: DECIMAL(19,0) ×
        // DECIMAL(18,9) → DECIMAL(38,9) with NO precision loss (a
        // LongType count would promote to DECIMAL(20,0), overflow 38,
        // and allowPrecisionLoss would silently cut the scale to 6)
        round(sum((col("c_src") + 1).cast(DecimalType(19, 0)) * col("lr"))
          .cast("double") /
          (max(col("n_src")) + max(col("n_cats"))), 6).as("kl_to_corpus"))
      .orderBy(col("source"))
  }

  def klDivergenceSql(vocabK: Int = KlVocabK): String =
    s"""WITH t AS (
       |  SELECT source,
       |    unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents
       |), corpus AS (
       |  SELECT token, COUNT(*) AS c FROM t GROUP BY 1
       |), v AS (
       |  SELECT token FROM corpus ORDER BY c DESC, token LIMIT $vocabK
       |), cat AS (
       |  SELECT source,
       |    CASE WHEN v.token IS NOT NULL THEN t.token ELSE '<oov>' END AS cat
       |  FROM t LEFT JOIN v ON t.token = v.token
       |), q AS (
       |  SELECT cat, COUNT(*) AS c_corpus FROM cat GROUP BY 1
       |), qt AS (
       |  SELECT SUM(c_corpus) AS n_corpus, COUNT(*) AS n_cats FROM q
       |), p AS (
       |  SELECT source, cat, COUNT(*) AS c_src FROM cat GROUP BY 1, 2
       |), pt AS (
       |  SELECT source, SUM(c_src) AS n_src FROM p GROUP BY 1
       |), grid AS (
       |  SELECT pt.source, pt.n_src, q.cat, q.c_corpus,
       |    COALESCE(p.c_src, 0) AS c_src, qt.n_corpus, qt.n_cats
       |  FROM pt CROSS JOIN q
       |  LEFT JOIN p ON p.source = pt.source AND p.cat = q.cat
       |  CROSS JOIN qt
       |)
       |SELECT source,
       |  CAST(MAX(n_src) AS BIGINT) AS n_tokens,
       |  CAST(MAX(n_cats) AS BIGINT) AS n_cats,
       |  ROUND(CAST(SUM(CAST(c_src + 1 AS DECIMAL(19,0)) * CAST(ROUND(ln(
       |      CAST(c_src + 1 AS DOUBLE) * CAST(n_corpus + n_cats AS DOUBLE)
       |      / (CAST(n_src + n_cats AS DOUBLE) * CAST(c_corpus + 1 AS DOUBLE))), 9)
       |      AS DECIMAL(18,9))) AS DOUBLE)
       |    / (MAX(n_src) + MAX(n_cats)), 6) AS kl_to_corpus
       |FROM grid GROUP BY source ORDER BY source""".stripMargin

  /** I26 `text_js_divergence` — pairwise source Jensen–Shannon
    * divergence matrix: the SYMMETRIC companion to I21 (KL measures
    * each source against the corpus; JSD says which sources are
    * mutually redundant — the mix planner's "collapse these two?"
    * read, the distributional macro view beside G24's exact shingle
    * overlap). JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2, over
    * I21's bounded category set (top-vocabK corpus tokens + pooled
    * `<oov>`) with add-one smoothing — always finite, 0 ≤ JSD ≤ ln 2.
    *
    * Exactness: I21's recipe verbatim — each log-ratio's BIGINT
    * factors cast to double BEFORE multiplying (the 2^63 wrap class),
    * ln rounded 9 dp → DECIMAL(18,9), weighted by the smoothed count
    * as DECIMAL(19,0) (product DECIMAL(38,9), no precision loss),
    * decimal-summed, ONE double division per side at the serve,
    * halved and rounded 6. The ½(x+y) parenthesization is pinned
    * identically in both engines.
    * Scale: the same ONE linear token-keyed shuffle as I21; the
    * source-pair grid expands MAP-SIDE from a collected (source,
    * n_src) array (K30's mechanic over the bounded source dimension
    * — no non-equi join), and pairs × categories stays
    * sources²·(vocabK+1) — broadcast-sized by construction. */
  def jsDivergence(spark: SparkSession, dir: String,
                   vocabK: Int = KlVocabK): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(nonEmptyToks).as("token"))
    val corpus = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val vocab = corpus.orderBy(col("c").desc, col("token")).limit(vocabK)
      .select(col("token"), lit(1).as("inv"))
    val cat = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("source"),
        when(col("inv").isNotNull, col("token")).otherwise(lit("<oov>")).as("cat"))
    val cats = cat.select(col("cat")).distinct()
    val nc = cats.agg(count(lit(1)).as("n_cats"))
    val p = cat.groupBy(col("source"), col("cat")).agg(count(lit(1)).as("c_src"))
    val pt = p.groupBy(col("source")).agg(sum(col("c_src")).as("n_src"))
    val pairs = pt
      .agg(sort_array(collect_list(struct(col("source"), col("n_src"))))
        .as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |            y -> struct(x.source AS source_a, x.n_src AS n_a,
          |                        y.source AS source_b, y.n_src AS n_b))))"""
          .stripMargin)).as("pr"))
      .select(col("pr.source_a"), col("pr.n_a"),
        col("pr.source_b"), col("pr.n_b"))
    // smoothed M-ratio arguments: every factor to double BEFORE the
    // multiply (I21's 2^63 discipline; same comment applies)
    val den = (col("c_a") + 1).cast("double") *
      (col("n_b") + col("n_cats")).cast("double") +
      (col("c_b") + 1).cast("double") * (col("n_a") + col("n_cats")).cast("double")
    def term(cSelf: Column, nOther: Column): Column =
      round(log(lit(2.0) * (cSelf + 1).cast("double") *
        (nOther + col("n_cats")).cast("double") / den), 9)
        .cast(DecimalType(18, 9))
    pairs
      .crossJoin(broadcast(cats))
      .crossJoin(broadcast(nc))
      .join(broadcast(p.select(col("source").as("source_a"), col("cat"),
        col("c_src").as("c_a"))), Seq("source_a", "cat"), "left")
      .join(broadcast(p.select(col("source").as("source_b"), col("cat"),
        col("c_src").as("c_b"))), Seq("source_b", "cat"), "left")
      .na.fill(0L, Seq("c_a", "c_b"))
      .withColumn("term_a", (col("c_a") + 1).cast(DecimalType(19, 0)) *
        term(col("c_a"), col("n_b")))
      .withColumn("term_b", (col("c_b") + 1).cast(DecimalType(19, 0)) *
        term(col("c_b"), col("n_a")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("n_cats")).as("n_cats"),
        round(lit(0.5) * (
          sum(col("term_a")).cast("double") /
            (max(col("n_a")) + max(col("n_cats"))) +
            sum(col("term_b")).cast("double") /
              (max(col("n_b")) + max(col("n_cats")))), 6).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def jsDivergenceSql(vocabK: Int = KlVocabK): String =
    s"""WITH t AS (
       |  SELECT source,
       |    unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents
       |), corpus AS (
       |  SELECT token, COUNT(*) AS c FROM t GROUP BY 1
       |), v AS (
       |  SELECT token FROM corpus ORDER BY c DESC, token LIMIT $vocabK
       |), cat AS (
       |  SELECT source,
       |    CASE WHEN v.token IS NOT NULL THEN t.token ELSE '<oov>' END AS cat
       |  FROM t LEFT JOIN v ON t.token = v.token
       |), cats AS (SELECT DISTINCT cat FROM cat),
       |nc AS (SELECT COUNT(*) AS n_cats FROM cats),
       |p AS (SELECT source, cat, COUNT(*) AS c_src FROM cat GROUP BY 1, 2),
       |pt AS (SELECT source, SUM(c_src) AS n_src FROM p GROUP BY 1),
       |grid AS (
       |  SELECT a.source AS source_a, b.source AS source_b, c.cat,
       |    a.n_src AS n_a, b.n_src AS n_b,
       |    COALESCE(pa.c_src, 0) AS c_a, COALESCE(pb.c_src, 0) AS c_b,
       |    nc.n_cats
       |  FROM pt a JOIN pt b ON a.source < b.source
       |  CROSS JOIN cats c CROSS JOIN nc
       |  LEFT JOIN p pa ON pa.source = a.source AND pa.cat = c.cat
       |  LEFT JOIN p pb ON pb.source = b.source AND pb.cat = c.cat
       |), terms AS (
       |  SELECT source_a, source_b, n_a, n_b, n_cats,
       |    CAST(c_a + 1 AS DECIMAL(19,0)) * CAST(ROUND(ln(
       |      2.0 * CAST(c_a + 1 AS DOUBLE) * CAST(n_b + n_cats AS DOUBLE)
       |      / (CAST(c_a + 1 AS DOUBLE) * CAST(n_b + n_cats AS DOUBLE)
       |       + CAST(c_b + 1 AS DOUBLE) * CAST(n_a + n_cats AS DOUBLE))), 9)
       |      AS DECIMAL(18,9)) AS term_a,
       |    CAST(c_b + 1 AS DECIMAL(19,0)) * CAST(ROUND(ln(
       |      2.0 * CAST(c_b + 1 AS DOUBLE) * CAST(n_a + n_cats AS DOUBLE)
       |      / (CAST(c_a + 1 AS DOUBLE) * CAST(n_b + n_cats AS DOUBLE)
       |       + CAST(c_b + 1 AS DOUBLE) * CAST(n_a + n_cats AS DOUBLE))), 9)
       |      AS DECIMAL(18,9)) AS term_b
       |  FROM grid
       |)
       |SELECT source_a, source_b,
       |  CAST(MAX(n_cats) AS BIGINT) AS n_cats,
       |  ROUND(0.5 * (CAST(CAST(SUM(term_a) AS VARCHAR) AS DOUBLE)
       |      / (MAX(n_a) + MAX(n_cats))
       |    + CAST(CAST(SUM(term_b) AS VARCHAR) AS DOUBLE)
       |      / (MAX(n_b) + MAX(n_cats))), 6) AS jsd
       |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** I22 `text_lexical_diversity` — per-source lexical-diversity
    * report: the vocabulary-growth signals (Heaps-law inputs) a
    * corpus curator reads beside I21's KL distance when deciding
    * whether a source is genuinely diverse or template spam —
    * type/token ratio, hapax fraction (share of vocabulary seen
    * exactly once), and the share of TOKEN MASS carried by the
    * source's top-10 types (concentration; near 1.0 = boilerplate).
    * Everything is exact integer counts until one final double
    * division per ratio, so cross-engine hashes are exact.
    * Scale: one explode + (source, token)-keyed rollup (the linear
    * token shuffle every I-op pays), then a bounded per-source
    * rollup; top-10 mass is a rank window inside the (source, token)
    * aggregate — partitioned by source, never global. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tt = Tables.documents(spark, dir)
      .select(col("source"), explode(nonEmptyToks).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val ranked = tt.withColumn("rnk",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("token"))))
    ranked.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("rnk") <= 10, col("c")).otherwise(0L)).as("top10_mass"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"),
        (col("top10_mass").cast("double") / col("n_tokens")).as("top10_token_share"))
      .orderBy(col("source"))
  }

  def lexicalDiversitySql: String =
    """WITH t AS (
      |  SELECT source,
      |    unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents
      |), tt AS (
      |  SELECT source, token, COUNT(*) AS c FROM t GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                               ORDER BY c DESC, token) AS rnk
      |  FROM tt
      |)
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS hapax_frac,
      |  CAST(SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(c) AS DOUBLE) AS top10_token_share
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** I23 `text_langid_trained` — a TRAINED language classifier
    * (supervised counterpart of I1's fixed stopword heuristic): per
    * language, a char-bigram multinomial is fit from the labeled
    * corpus itself (add-one smoothing over the GLOBAL bigram type
    * set, so every language normalizes over the same categories);
    * each document is re-scored under all five models and argmaxed;
    * the served result is the confusion matrix (lang,
    * predicted_lang, n_docs) — the eval a data curator actually
    * reads (sim_knn_classify's discipline, on text).
    *
    * Cross-engine exactness: the only transcendental is the per
    * (lang, bigram) log-prob, rounded to 9 dp and cast
    * DECIMAL(18,9); each doc's score is Σ count·logprob with the
    * count cast DECIMAL(19,0) — product DECIMAL(38,9), exact in both
    * engines; argmax compares decimals with lang-order tie-break.
    * Scale: the MODEL is bounded (langs × charset² rows) and
    * broadcast; docs pay one bigram explode + (doc, bigram) rollup
    * (linear, the I-family token shuffle); scoring is a broadcast
    * join + doc-keyed rollup — no all-pairs anything. */
  /** Cached (doc, lang, bigram) count rollup for [[langIdTrained]] —
    * the subtree that feeds BOTH the model-fit chain (per-language
    * counts, global type set, totals) and the scoring join, i.e. it
    * would otherwise re-run the char-explode + rollup for every
    * branch of the plan. */
  private def langIdDocBg(spark: SparkSession, dir: String): DataFrame =
    Memo.cached(spark, s"text.langIdDocBg:$dir", docsSrc(dir)) {
      // (doc, bigram) counts — one linear explode over positions
      val bi = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(1),
            greatest(length(col("text")) - 1, lit(1)))).as("i"))
        .select(col("doc_id"), col("lang"),
          expr("substring(text, i, 2)").as("bg"))
      bi.groupBy(col("doc_id"), col("lang"), col("bg"))
        .agg(count(lit(1)).as("c"))
    }

  def langIdTrained(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docBg = langIdDocBg(spark, dir)
    // per-language bigram counts + global type set
    val lb = docBg.groupBy(col("lang").as("m_lang"), col("bg"))
      .agg(sum(col("c")).as("c_lang"))
    val types = lb.select(col("bg")).distinct()
    val nTypes = types.agg(count(lit(1)).as("n_types"))
    val langTot = lb.groupBy(col("m_lang")).agg(sum(col("c_lang")).as("n_lang"))
    // dense model grid: every (lang, bigram type), add-one smoothed
    val model = langTot.crossJoin(broadcast(types))
      .join(lb, Seq("m_lang", "bg"), "left").na.fill(0L, Seq("c_lang"))
      .crossJoin(broadcast(nTypes))
      .select(col("m_lang"), col("bg"),
        round(log((col("c_lang") + 1).cast("double") /
          (col("n_lang") + col("n_types")).cast("double")), 9)
          .cast(DecimalType(18, 9)).as("logp"))
    // score every doc under every language model — DECIMAL(19,0) ×
    // DECIMAL(18,9) → DECIMAL(38,9), exact (degreeDist's rule: a raw
    // LongType count would promote to DECIMAL(20,0), push the product
    // precision past 38, and allowPrecisionLoss would silently round
    // the scale to 6 while the DuckDB oracle keeps 9 dp).
    // The model joins WIDE (one row per bigram type, one logp column
    // per language): the long-form join multiplies the (doc, bigram)
    // stream by #langs and shuffles it at (doc, lang, m_lang)
    // granularity; wide scoring keeps the stream at (doc, bigram) and
    // folds all five scores into ONE doc-keyed rollup — same decimal
    // products, same exact sums, same argmax (r15; 2.6 s -> measured
    // below isolated).
    val langNames = langs.map(_._1)
    val wide = model.groupBy(col("bg"))
      .pivot("m_lang", langNames).agg(first(col("logp")))
    val scoreAggs = langNames.map(l =>
      sum(col("c").cast(DecimalType(19, 0)) * col(l)).as(s"score_$l"))
    val perDoc = docBg.join(broadcast(wide), Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    // argmax in ascending-lang order: the first language whose score
    // >= all others — identical to the old max(struct(score, pref))
    // whose pref ranked languages reverse-alphabetically (ties go to
    // the alphabetically first language either way). The dense model
    // grid guarantees no NULL scores, so the fold always matches.
    val predicted = langNames.foldRight(lit("und")) { case (l, els) =>
      val ge = langNames.filter(_ != l)
        .map(o => col(s"score_$l") >= col(s"score_$o")).reduce(_ && _)
      when(ge, lit(l)).otherwise(els)
    }
    val best = perDoc.select(col("doc_id"), col("lang"),
      predicted.as("predicted_lang"))
    best.groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  def langIdTrainedSql: String =
    """WITH bi AS (
      |  SELECT doc_id, lang, substr(text, i, 2) AS bg
      |  FROM documents,
      |    UNNEST(generate_series(1, greatest(length(text) - 1, 1))) AS u(i)
      |), doc_bg AS (
      |  SELECT doc_id, lang, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3
      |), lb AS (
      |  SELECT lang AS m_lang, bg, SUM(c) AS c_lang FROM doc_bg GROUP BY 1, 2
      |), types AS (SELECT DISTINCT bg FROM lb
      |), nt AS (SELECT COUNT(*) AS n_types FROM types
      |), lt AS (SELECT m_lang, SUM(c_lang) AS n_lang FROM lb GROUP BY 1
      |), model AS (
      |  SELECT lt.m_lang, types.bg,
      |    CAST(ROUND(ln(CAST(COALESCE(lb.c_lang, 0) + 1 AS DOUBLE)
      |      / CAST(lt.n_lang + nt.n_types AS DOUBLE)), 9)
      |      AS DECIMAL(18,9)) AS logp
      |  FROM lt CROSS JOIN types
      |  LEFT JOIN lb ON lb.m_lang = lt.m_lang AND lb.bg = types.bg
      |  CROSS JOIN nt
      |), scored AS (
      |  SELECT d.doc_id, d.lang, m.m_lang,
      |    SUM(CAST(d.c AS DECIMAL(19,0)) * m.logp) AS score
      |  FROM doc_bg d JOIN model m ON d.bg = m.bg
      |  GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT doc_id, lang,
      |    MAX({'s': score,
      |         'r': CASE m_lang WHEN 'de' THEN 4 WHEN 'en' THEN 3
      |              WHEN 'es' THEN 2 WHEN 'fr' THEN 1 WHEN 'zh' THEN 0
      |              ELSE -1 END,
      |         'm': m_lang}).m AS predicted_lang
      |  FROM scored GROUP BY 1, 2
      |)
      |SELECT lang, predicted_lang, COUNT(*) AS n_docs
      |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def unigramSurprisalSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents
       |), c AS (
       |  SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1
       |), tot AS (
       |  SELECT SUM(cnt) AS total FROM c
       |), v AS (
       |  SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT $VocabK
       |)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CAST(ROUND(-ln(COALESCE(CAST(v.cnt AS DOUBLE), 1.0)
       |        / CAST(total AS DOUBLE)), 6) AS DECIMAL(18,9))) AS DOUBLE)
       |    / COUNT(*) AS surprisal
       |FROM t LEFT JOIN v USING (token) CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin

  /** I7 `text_repetition_signals` — repetition-based quality filters
    * in the style of the published Gopher/MassiveText rules (Rae et
    * al. 2021, public): `dup_word_frac` (1 - distinct/total words,
    * the within-doc repetition mass) and `top_bigram_frac` (share of
    * the most frequent bigram among all bigrams — boilerplate and
    * template spam light up on it). Column-only: the bigram counting
    * shuffles on (doc_id, bigram), i.e. keyed BY DOCUMENT — linear in
    * corpus size, no cross-doc state, so it scales like the other I
    * ops. Ratios divide exact integers (bit-identical doubles in both
    * engines). */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"))
    val bigrams = base
      .select(col("doc_id"), explode(when(col("n_words") >= 2,
          expr("transform(sequence(1, n_words - 1), " +
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    val top = bigrams
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") > 0,
          (col("n_words") - col("n_distinct")) / col("n_words"))
          .as("dup_word_frac"),
        when(col("n_words") >= 2, col("top_c") / (col("n_words") - 1))
          .as("top_bigram_frac"))
  }

  def repetitionSignalsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct
      |  FROM toks
      |), bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
      |  FROM toks WHERE len(w) >= 2
      |), topbg AS (
      |  SELECT doc_id, MAX(c) AS top_c FROM (
      |    SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
      |  ) GROUP BY 1
      |)
      |SELECT b.doc_id, CAST(b.n_words AS INTEGER) AS n_words,
      |  CASE WHEN b.n_words > 0
      |       THEN (b.n_words - b.n_distinct) * 1.0 / b.n_words END AS dup_word_frac,
      |  CASE WHEN b.n_words >= 2
      |       THEN t.top_c * 1.0 / (b.n_words - 1) END AS top_bigram_frac
      |FROM base b LEFT JOIN topbg t ON b.doc_id = t.doc_id""".stripMargin

  private val DsirBuckets = 4096L

  /** I8 `text_dsir_weights` — DSIR-style data-selection importance
    * weights (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — public): hashed word-bigram features,
    * target distribution = the `lang = 'en'` slice, raw distribution =
    * the whole corpus; per-doc log importance weight = sum over its
    * bigram occurrences of ln(p_target(bucket) / p_raw(bucket)) with
    * add-1 smoothing over [[DsirBuckets]] buckets. Cross-engine
    * determinism: buckets come from md5 hex (engine-portable), the
    * probability ratio is a fixed sequence of IEEE ops on exact
    * integers, and each ln term is rounded to 6 dp then summed as
    * DECIMAL(18,9) — order-insensitive, the I6 recipe. Scale: one
    * explode+groupBy whose shuffle is bounded by the 4096-bucket key
    * space (partial-agg'd to <= 4096 rows per mapper), a <= 4096-row
    * broadcast weight table joined back, one per-doc agg. */
  /** Cached exploded bigram feature stream — the largest cached frame
    * in the module (one row per bigram occurrence corpus-wide), so it
    * is a memoized cached plan, never silently stale after an
    * in-session rewrite of documents. */
  private def dsirFeats(spark: SparkSession, dir: String): DataFrame =
    Memo.cached(spark, s"text.dsirFeats:$dir", docsSrc(dir)) {
      val bigrams = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), nonEmptyToks.as("w"))
        .select(col("doc_id"), col("lang"),
          explode(when(size(col("w")) >= 2,
              expr("transform(sequence(1, size(w) - 1), " +
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"))
            .otherwise(array().cast("array<string>"))).as("bg"))
      bigrams.select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("bg").cast("binary")), 1, 15), 16, 10)
          .cast("long"), lit(DsirBuckets)).as("bucket"))
    }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cached: the exploded feature stream feeds both the bucket-count
    // aggregation and the per-doc weight join — one synth+explode pass
    val feats = dsirFeats(spark, dir)
    // raw and target counts in ONE aggregation (t_cnt = conditional
    // count), not two passes + a join: buckets with no target hits get
    // t_cnt = 0 directly, which is what the add-1 smoothing wants
    val cnts = feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("r_cnt"),
        count(when(col("lang") === "en", lit(1))).as("t_cnt"))
    val totals = cnts.agg(sum(col("r_cnt")).as("r_total"),
      sum(col("t_cnt")).as("t_total"))
    val weights = cnts
      .crossJoin(broadcast(totals))
      .select(col("bucket"), round(log(
        ((col("t_cnt") + 1).cast("double") /
          (col("t_total") + DsirBuckets).cast("double")) /
        ((col("r_cnt") + 1).cast("double") /
          (col("r_total") + DsirBuckets).cast("double"))), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("lw"))
    val perDoc = feats.join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("lw")).cast("double").as("lwsum"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("lwsum"), lit(0.0)).as("log_weight"))
  }

  def dsirWeightsSql: String =
    s"""WITH toksw AS (
       |  SELECT doc_id, lang, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
       |  FROM toksw WHERE len(w) >= 2
       |), feats AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substring(md5(bg), 1, 15)) AS BIGINT) % $DsirBuckets AS bucket
       |  FROM bg
       |), r AS (
       |  SELECT bucket, COUNT(*) AS r_cnt FROM feats GROUP BY 1
       |), t AS (
       |  SELECT bucket, COUNT(*) AS t_cnt FROM feats WHERE lang = 'en' GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT CAST(SUM(r_cnt) AS BIGINT) FROM r) AS r_total,
       |         (SELECT CAST(SUM(t_cnt) AS BIGINT) FROM t) AS t_total
       |), wt AS (
       |  SELECT bucket, CAST(ROUND(ln(
       |      (CAST(COALESCE(t_cnt, 0) + 1 AS DOUBLE)
       |        / CAST(t_total + $DsirBuckets AS DOUBLE)) /
       |      (CAST(r_cnt + 1 AS DOUBLE)
       |        / CAST(r_total + $DsirBuckets AS DOUBLE))), 6)
       |    AS DECIMAL(18,9)) AS lw
       |  FROM r LEFT JOIN t USING (bucket) CROSS JOIN tot
       |), per_doc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(SUM(lw) AS DOUBLE) AS lwsum
       |  FROM feats JOIN wt USING (bucket) GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(p.nb, 0) AS n_bigrams,
       |  COALESCE(p.lwsum, 0.0) AS log_weight
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  private val BpeTopK = 30

  /** I9 `text_bpe_pair_stats` — the statistics pass behind a BPE
    * tokenizer-training step (Sennrich et al. 2016 — public): corpus
    * frequencies of adjacent within-word character pairs, top
    * [[BpeTopK]] with a deterministic (count desc, pair asc)
    * tie-break — i.e. the candidate merge table for the first BPE
    * merge. Scale: explode is bounded by text length, the count
    * shuffles once on the pair key (high-cardinality, partial-agg'd),
    * and the top-k is an ordered LIMIT (TakeOrdered — no global
    * sort); the rank window runs on the <= [[BpeTopK]]-row survivor
    * set only. */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(explode(nonEmptyToks).as("t"))
      .select(explode(when(length(col("t")) >= 2,
          expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))"))
        .otherwise(array().cast("array<string>"))).as("pair"))
    val top = pairs.groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(BpeTopK)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(Obs.onePart(col("pair"))) // BpeTopK rows by construction
          .orderBy(col("cnt").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  def bpePairStatsSql: String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS t
       |  FROM documents
       |), p AS (
       |  SELECT unnest(list_transform(range(1, length(t)), i -> substring(t, i, 2))) AS pair
       |  FROM t WHERE length(t) >= 2
       |), c AS (
       |  SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
       |  ORDER BY cnt DESC, pair LIMIT $BpeTopK
       |)
       |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank, pair, cnt
       |FROM c""".stripMargin

  private val LmMinCount = 20L

  /** I10 `text_bigram_lm` — bigram language-model TRAINING counts
    * (the KenLM-style count pass behind every n-gram LM): corpus
    * bigram counts, unigram context counts, and the conditional
    * probability p(w2|w1) = c(w1 w2)/c(w1) for every bigram seen at
    * least [[LmMinCount]] times (the pruning every n-gram toolkit
    * applies). The probability divides exact integers — bit-identical
    * doubles cross-engine, no rounding needed. Scale: two groupBys
    * (bigram-keyed and unigram-keyed), both partial-agg'd; the
    * context-count join is keyed on w1 and AQE-sized. I6 consumes a
    * unigram LM for scoring; this is the model-building side. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
    val bigr = toks
      .select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val ctx = bigr.groupBy(col("w1")).agg(count(lit(1)).as("c_ctx"))
    bigr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
      .filter(col("c_bigram") >= LmMinCount)
      .join(ctx, "w1")
      .select(col("w1"), col("w2"), col("c_bigram"), col("c_ctx"),
        (col("c_bigram").cast("double") / col("c_ctx").cast("double"))
          .as("p_cond"))
  }

  def bigramLmSql: String =
    s"""WITH toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), bg AS (
       |  SELECT unnest(list_transform(range(1, len(w)),
       |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |  FROM toksw WHERE len(w) >= 2
       |), pairs AS (
       |  SELECT b.w1 AS w1, b.w2 AS w2 FROM bg
       |), ctx AS (
       |  SELECT w1, COUNT(*) AS c_ctx FROM pairs GROUP BY 1
       |), bc AS (
       |  SELECT w1, w2, COUNT(*) AS c_bigram FROM pairs GROUP BY 1, 2
       |  HAVING COUNT(*) >= $LmMinCount
       |)
       |SELECT bc.w1, w2, c_bigram, c_ctx,
       |  CAST(c_bigram AS DOUBLE) / CAST(c_ctx AS DOUBLE) AS p_cond
       |FROM bc JOIN ctx ON bc.w1 = ctx.w1""".stripMargin

  /** I12 `text_bigram_surprisal` — per-document scoring against the
    * I10 bigram LM with add-1 (Laplace) smoothing: for every bigram
    * (w1, w2) of the doc, p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
    * where V is the corpus vocabulary size, and the doc score is the
    * mean of -ln p over its bigrams — the bigram counterpart of I6's
    * unigram filter, i.e. the SCORING half of the KenLM-style
    * pipeline whose TRAINING half is I10 (score with a real context
    * model; smoothing keeps unseen continuations finite). Docs with
    * fewer than two tokens have no bigrams and are not scored.
    * Cross-engine determinism: p divides exact integers; each -ln p
    * term is rounded to 6 dp then summed as DECIMAL(18,9) — the I6
    * recipe, order-insensitive. Scale: the count tables are keyed
    * groupBys (partial-agg'd); the doc-bigram stream joins them on
    * (w1, w2) and w1 — keyed, AQE-sized joins, never a broadcast of
    * the unbounded model. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // r15 shape: the context totals derive from the bigram count
    // table (c_ctx = Σ_w2 c_bigram — identical counts by algebra) and
    // the two model tables pre-join at MODEL scale, so the doc-bigram
    // occurrence stream is joined ONCE on (w1, w2) instead of twice
    // (the second full-stream shuffle is gone, and so is the third
    // corpus explode that fed the old occurrence-keyed ctx).
    val docBigr = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = docBigr.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bigram"))
    val ctx = bc.groupBy(col("w1")).agg(sum(col("c_bigram")).as("c_ctx"))
    val vocab = Tables.documents(spark, dir)
      .select(explode(nonEmptyToks).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    docBigr
      .join(bc.join(ctx, Seq("w1")), Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .withColumn("surp",
        round(-log((col("c_bigram") + lit(1)).cast("double") /
          (col("c_ctx") + col("v")).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("surp")).cast("double") / count(lit(1)))
          .as("bigram_surprisal"))
  }

  def bigramSurprisalSql: String =
    """WITH toksw AS (
      |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), db AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
      |  FROM toksw WHERE len(w) >= 2
      |), dbf AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM db
      |), bc AS (
      |  SELECT w1, w2, COUNT(*) AS c_bigram FROM dbf GROUP BY 1, 2
      |), ctx AS (
      |  SELECT w1, COUNT(*) AS c_ctx FROM dbf GROUP BY 1
      |), voc AS (
      |  SELECT COUNT(DISTINCT token) AS v FROM (
      |    SELECT unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
      |    FROM documents
      |  )
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(ROUND(-ln(CAST(c_bigram + 1 AS DOUBLE)
      |        / CAST(c_ctx + v AS DOUBLE)), 6) AS DECIMAL(18,9))) AS DOUBLE)
      |    / COUNT(*) AS bigram_surprisal
      |FROM dbf
      |JOIN bc USING (w1, w2)
      |JOIN ctx USING (w1)
      |CROSS JOIN voc
      |GROUP BY doc_id""".stripMargin

  /** Backoff discount of the stupid-backoff scorer (Brants et al.
    * 2007 use 0.4 uniformly — "stupid" because it never normalizes). */
  private val BackoffAlpha = 0.4

  /** I14 `text_stupid_backoff` — stupid-backoff LM scoring (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale scheme that made KN smoothing optional at Google
    * scale): score a doc's bigrams against the PRUNED I10 model;
    * where the bigram survives pruning S = c(w1w2)/c(w1), otherwise
    * back off to the discounted unigram S = 0.4 · c(w2)/N. No
    * normalization (scores, not probabilities) — which is exactly
    * what makes it embarrassingly parallel: every term is a count
    * ratio, no per-context renormalization pass. Doc score = mean of
    * -ln S over its bigrams (I6's round-6dp-then-decimal-sum
    * discipline), plus the backoff rate — the fraction of bigrams
    * that fell through to the unigram, a model-coverage diagnostic.
    * Scale: pruned-model and unigram joins are keyed and AQE-sized
    * (never a broadcast of the unbounded model); the 1-row corpus
    * total broadcasts. */
  def stupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    // r15 shape (bigramSurprisal's rewrite, plus the model fold): the
    // corpus bigram table, the pruned I10 model, the context totals
    // and the unigram marginal fold into ONE lookup keyed (w1, w2) at
    // MODEL scale, and the doc-bigram occurrence stream joins it ONCE
    // — the old plan shuffled the full stream through two joins.
    // Every (w1, w2) a doc emits exists in the corpus bigram table
    // (derived from the same stream) and every w2 is a corpus token,
    // so the inner joins are loss-free; c_bigram is NULL exactly where
    // the old left join missed the pruned model.
    val docBigr = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bcAll = docBigr.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb_all"))
    val ctx = bcAll.groupBy(col("w1")).agg(sum(col("cb_all")).as("c_ctx"))
    val toks = Tables.documents(spark, dir)
      .select(explode(nonEmptyToks).as("token"))
    val uni = toks.groupBy(col("token").as("w2")).agg(count(lit(1)).as("c_uni"))
    // total from the unigram table (#vocab rows), not a second corpus scan
    val total = uni.agg(sum(col("c_uni")).as("n_total"))
    val lookup = bcAll
      .join(ctx, Seq("w1"))
      .join(uni, Seq("w2"))
      .select(col("w1"), col("w2"),
        when(col("cb_all") >= LmMinCount, col("cb_all")).as("c_bigram"),
        col("c_ctx"), col("c_uni"))
    val s = when(col("c_bigram").isNotNull,
        col("c_bigram").cast("double") / col("c_ctx").cast("double"))
      .otherwise(lit(BackoffAlpha) * col("c_uni").cast("double") /
        col("n_total").cast("double"))
    docBigr
      .join(lookup, Seq("w1", "w2"))
      .crossJoin(broadcast(total))
      .withColumn("surp", round(-log(s), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c_bigram").isNull, 1L).otherwise(0L)).as("n_backoff"),
        (sum(col("surp")).cast("double") / count(lit(1)))
          .as("backoff_score"))
  }

  def stupidBackoffSql: String =
    s"""WITH toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), db AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)),
       |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |  FROM toksw WHERE len(w) >= 2
       |), dbf AS (
       |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM db
       |), pairs AS (
       |  SELECT b.w1 AS w1, b.w2 AS w2 FROM (
       |    SELECT unnest(list_transform(range(1, len(w)),
       |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |    FROM toksw WHERE len(w) >= 2
       |  )
       |), ctx AS (
       |  SELECT w1, COUNT(*) AS c_ctx FROM pairs GROUP BY 1
       |), model AS (
       |  SELECT w1, w2, COUNT(*) AS c_bigram FROM pairs GROUP BY 1, 2
       |  HAVING COUNT(*) >= $LmMinCount
       |), uni AS (
       |  SELECT token AS w2, COUNT(*) AS c_uni FROM (
       |    SELECT unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |    FROM documents
       |  ) GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(c_uni) AS BIGINT) AS n_total FROM uni
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(CASE WHEN c_bigram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_backoff,
       |  CAST(SUM(CAST(ROUND(-ln(
       |      CASE WHEN c_bigram IS NOT NULL
       |           THEN CAST(c_bigram AS DOUBLE) / CAST(c_ctx AS DOUBLE)
       |           ELSE $BackoffAlpha * CAST(c_uni AS DOUBLE)
       |                / CAST(n_total AS DOUBLE) END), 6)
       |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS backoff_score
       |FROM dbf
       |LEFT JOIN model USING (w1, w2)
       |LEFT JOIN ctx USING (w1)
       |JOIN uni USING (w2)
       |CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin

  /** I11 `text_perplexity_buckets` — CCNet-style perplexity
    * partitioning (Wenzek et al. 2020, public): per LANGUAGE, split
    * documents into head/middle/tail terciles of the I6 LM surprisal
    * (CCNet trains on "head", the lowest-perplexity third). Tercile
    * thresholds are percentile_disc — an actual data point, exact and
    * engine-portable (the F5 discipline) — over the already
    * order-insensitive I6 score, so even the bucket labels
    * hash-match. Scale: I6's single pass + a per-lang threshold agg
    * (≤ #langs rows, broadcast back); the tercile sort is per-lang
    * (bounded groups), not global. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val s = unigramSurprisal(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
    val ters = s.groupBy(col("lang")).agg(
      expr("percentile_disc(0.3333333333333333) WITHIN GROUP (ORDER BY surprisal)").as("t1"),
      expr("percentile_disc(0.6666666666666666) WITHIN GROUP (ORDER BY surprisal)").as("t2"))
    s.join(broadcast(ters), "lang")
      .select(col("doc_id"), col("lang"), col("surprisal"),
        when(col("surprisal") <= col("t1"), "head")
          .when(col("surprisal") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  def perplexityBucketsSql: String =
    s"""WITH surp AS (
       |  SELECT * FROM ($unigramSurprisalSql)
       |), sl AS (
       |  SELECT s.doc_id, d.lang, s.surprisal
       |  FROM surp s JOIN documents d ON s.doc_id = d.doc_id
       |), ters AS (
       |  SELECT lang,
       |    quantile_disc(surprisal, 0.3333333333333333) AS t1,
       |    quantile_disc(surprisal, 0.6666666666666666) AS t2
       |  FROM sl GROUP BY 1
       |)
       |SELECT doc_id, sl.lang, surprisal,
       |  CASE WHEN surprisal <= t1 THEN 'head'
       |       WHEN surprisal <= t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM sl JOIN ters ON sl.lang = ters.lang""".stripMargin

  /** I13 `text_bm25_topk` — BM25 ranked keyword retrieval (Robertson &
    * Spärck Jones probabilistic relevance framework, the Okapi BM25
    * formula): the LEXICAL half of hybrid search, whose vector half is
    * H1 and whose fusion is H14 (`sim_hybrid_rrf`). score(d) =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen)) with
    * k1=1.2, b=0.75, idf = ln((N−df+0.5)/(df+0.5)+1).
    *
    * Cross-engine determinism (I5/I6 discipline): tf, df, len, N are
    * exact integers; avglen is one exact-int division; the per-term
    * score is a FIXED sequence of IEEE double ops on those, rounded
    * to 6 dp and summed as DECIMAL(18,9) — so the total is
    * summation-order-insensitive and the ranking hash-matches.
    *
    * Scale: the query-term set is small by contract, so tf-per-term
    * rides the SAME per-doc aggregate as doc length (one conditional
    * count per term — ONE shuffle on doc_id, no (doc, term) explode
    * shuffle and no join-back); df and the corpus stats fold into ONE
    * 1-row global aggregate that broadcasts; scoring is then a pure
    * projection and top-k a distributed TakeOrdered, whose k-row
    * output feeds the rank window exchange-free (3 exchanges total,
    * RegistrySpec-pinned). */
  def bm25TopK(spark: SparkSession, dir: String,
               terms: Seq[String] = Seq("vector", "scan", "merge"),
               k: Int = 10): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(nonEmptyToks).as("tok"))
    val perDocAggs = count(lit(1)).as("len") +: terms.zipWithIndex.map {
      case (t, i) => sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(perDocAggs.head, perDocAggs.tail: _*)
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("len")).as("total_len") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    def termScore(i: Int): Column = {
      val idf = log((col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5)) + lit(1.0))
      when(col(s"tf_$i") > 0,
        round(idf * (col(s"tf_$i") * lit(2.2)) /
          (col(s"tf_$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avg_len"))), 6)
          .cast(dec))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast(dec))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Obs.onePart(col("doc_id"))) // k rows (TakeOrdered below)
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.crossJoin(broadcast(stats))
      .withColumn("avg_len", col("total_len").cast("double") / col("n_docs"))
      .withColumn("score", terms.indices.map(termScore).reduce(_ + _).cast("double"))
      .withColumn("n_terms", terms.indices
        .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .filter(col("n_terms") > 0)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
  }

  def bm25TopKSql(terms: Seq[String] = Seq("vector", "scan", "merge"),
                  k: Int = 10): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents
       |), lens AS (
       |  SELECT doc_id, COUNT(*) AS len FROM t GROUP BY 1
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens
       |), tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |  WHERE tok IN ($inList) GROUP BY 1, 2
       |), df AS (
       |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
       |), s AS (
       |  -- every operand is cast to DOUBLE before the arithmetic:
       |  -- DuckDB decimal literals would otherwise pull subexpressions
       |  -- into DECIMAL division, which is not IEEE double division
       |  SELECT tf.doc_id,
       |    CAST(ROUND(
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |           / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |        * (CAST(tf AS DOUBLE) * 2.2)
       |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE)
       |             / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 6)
       |      AS DECIMAL(18,9)) AS sc
       |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
       |), agg AS (
       |  SELECT doc_id, CAST(SUM(sc) AS DOUBLE) AS score, COUNT(*) AS n_terms
       |  FROM s GROUP BY 1
       |)
       |SELECT rank, doc_id, score, n_terms FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM agg
       |) WHERE rank <= $k""".stripMargin
  }

  /** Number of BPE merges I15 trains (unrolled — each is one
    * distributed pass over the weighted vocab). */
  private val BpeTrainMerges = 3

  /** Symbol separator / merge joiner for I15's string-encoded symbol
    * sequences. Each symbol is wrapped `SEPsymSEP`, so a word's
    * representation is `SEPcSEPSEPaSEP…`: the pair
    * pattern `SEPs1SEPSEPs2SEP` can never match inside a
    * symbol (symbols contain no SEP), and back-to-back
    * occurrences don't share characters, so one left-to-right
    * `replace` applies the merge with the exact non-overlapping
    * left-to-right semantics BPE specifies — identically in Spark
    * (UTF8String.replace) and DuckDB (replace). Tokens are restricted
    * to ^[a-z0-9]+$ so corpus text can never contain the control
    * chars. Built with chr(1)/chr(2) on BOTH engines — no literal
    * control bytes in SQL. */
  private def pairCountsOf(rep: DataFrame): DataFrame =
    rep.select(col("freq"),
      split(trim(col("repr"), "\u0001"),
        java.util.regex.Pattern.quote("\u0001\u0001")).as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS s1, element_at(syms, i + 1) AS s2))"))
        .as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("freq")).as("cnt"))

  /** I15 `text_bpe_train` — BPE tokenizer TRAINING (Sennrich et al.
    * 2016, the word-dictionary algorithm — public): [[BpeTrainMerges]]
    * actual merge iterations, not just I9's first-merge statistics.
    * The corpus collapses once to the weighted vocab (distinct
    * token, frequency); each iteration counts adjacent symbol pairs
    * over that vocab (explode keyed by pair, partial-agg'd, weights =
    * word freq), picks the argmax merge with a deterministic
    * (count desc, pair asc) tie-break via a 1-row TakeOrdered, and
    * applies it to every word through a broadcast of that single row
    * — so per iteration the cluster does one vocab-sized pass and
    * never re-touches the corpus. Symbol sequences ride as delimited
    * strings (see [[pairCountsOf]]) so the merge is ONE string
    * replace with provably identical semantics in both engines.
    * Output: the learned merge table (rank, left, right, count) —
    * the artifact a tokenizer ships. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrained(spark, dir)._2.reduce(_.unionAll(_))

  /** Memoized trained tokenizer per (session, dir): the dictionary is
    * a MODEL ARTIFACT shared by four registry queries (I15 train, I18
    * encode, I31 eval, I32 roundtrip) — without the memo each of them
    * replays the full [[BpeTrainMerges]]-round training fold (one
    * word-frequency aggregate + one pair-count aggregate per round)
    * from the parquet scan. Checkpointed like every memoized table:
    * the checkpoint mode is part of the token, and the superseded
    * dictionary and merge rows are released. */
  private def bpeTrained(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) =
    Memo[(DataFrame, Seq[DataFrame])](spark, s"text.bpe:$dir", docsSrc(dir),
        Ckpt.mode(spark)) {
      case (dict, merges) => Ckpt.release(dict); merges.foreach(Ckpt.release)
    }(bpeTrainedBuild(spark, dir))

  /** The training fold itself: returns (trained word dictionary after
    * [[BpeTrainMerges]] merges — token, freq, repr — and the per-merge
    * rows). Shared by I15 (serves the merges) and I18 (encodes the
    * corpus against the trained dictionary). Each round's dictionary
    * and winning pair are lineage-cut so round k+1 plans over a leaf
    * (and the per-merge serve rows don't replay rounds 1..k). */
  private def bpeTrainedBuild(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val wf = Tables.documents(spark, dir, fan = true)
      .select(explode(nonEmptyToks).as("t"))
      .filter(col("t").rlike("^[a-z0-9]+$"))
      .groupBy(col("t").as("token")).agg(count(lit(1)).as("freq"))
    val rep0 = wf.withColumn("repr", expr(
      "array_join(transform(sequence(1, length(token)), " +
        "i -> concat(chr(1), substr(token, i, 1), chr(1))), '')"))
      .cutLineage()
    (1 to BpeTrainMerges)
      .foldLeft((rep0, Seq.empty[DataFrame])) { case ((rep, acc), k) =>
        val best = pairCountsOf(rep)
          .orderBy(col("cnt").desc, col("s1"), col("s2")).limit(1)
          .cutLineage()
        val next = rep.crossJoin(broadcast(
            best.select(col("s1").as("m1"), col("s2").as("m2"))))
          .withColumn("repr", expr(
            "replace(repr, concat(chr(1), m1, chr(1), chr(1), m2, chr(1)), " +
              "concat(chr(1), m1, chr(2), m2, chr(1)))"))
          .drop("m1", "m2")
          .cutLineage()
        // next is materialized (cutLineage is eager): the superseded
        // round's dictionary blocks can go
        Ckpt.release(rep)
        val row = best.select(lit(k).as("merge_rank"),
          expr("replace(s1, chr(2), '+')").as("left_sym"),
          expr("replace(s2, chr(2), '+')").as("right_sym"),
          col("cnt").as("pair_count"))
        (next, acc :+ row)
      }
  }

  def bpeTrainSql: String = {
    val out = (1 to BpeTrainMerges).map(k =>
      s"""SELECT $k AS merge_rank, replace(s1, chr(2), '+') AS left_sym,
         |  replace(s2, chr(2), '+') AS right_sym, cnt AS pair_count
         |FROM b$k""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH $bpeSqlCtes
       |$out""".stripMargin
  }

  /** The training replay as SQL CTEs (wf → rep0 → … → rep[[BpeTrainMerges]]),
    * shared by the I15 oracle (serves b1..bN) and the I18 oracle
    * (encodes against rep[[BpeTrainMerges]]). */
  private def bpeSqlCtes: String = {
    def pcSql(rep: String) =
      s"""SELECT p[1] AS s1, p[2] AS s2, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      i -> [syms[i], syms[i+1]])) AS p
         |    FROM (SELECT freq, str_split(trim(repr, chr(1)),
         |                   chr(1) || chr(1)) AS syms FROM $rep)
         |    WHERE len(syms) >= 2
         |  ) GROUP BY 1, 2""".stripMargin
    val iters = (1 to BpeTrainMerges).map { k =>
      s"""pc$k AS (
         |${pcSql(s"rep${k - 1}")}
         |), b$k AS (
         |  SELECT s1, s2, cnt FROM pc$k ORDER BY cnt DESC, s1, s2 LIMIT 1
         |), rep$k AS (
         |  SELECT token, freq,
         |    replace(repr, chr(1) || b.s1 || chr(1) || chr(1) || b.s2 || chr(1),
         |      chr(1) || b.s1 || chr(2) || b.s2 || chr(1)) AS repr
         |  FROM rep${k - 1}, b$k b
         |)""".stripMargin
    }.mkString(", ")
    s"""wf AS (
       |  SELECT t AS token, COUNT(*) AS freq FROM (
       |    SELECT unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS t
       |    FROM documents
       |  ) WHERE regexp_matches(t, '^[a-z0-9]+$$') GROUP BY 1
       |), rep0 AS (
       |  SELECT token, freq,
       |    array_to_string(list_transform(range(1, length(token) + 1),
       |      i -> chr(1) || substring(token, i, 1) || chr(1)), '') AS repr
       |  FROM wf
       |), $iters""".stripMargin
  }

  /** I16 `text_entropy` — Shannon-entropy quality signals (the
    * entropy/compressibility family of pre-training filters — CCNet/
    * MassiveText-style heuristics, public): per doc, character-level
    * and word-level entropy H = ln(n) − (Σ c·ln c)/n from exact
    * count distributions, plus a diversity band. Gibberish and
    * key-mash light up as char-entropy outliers; template/boilerplate
    * text as low word-entropy. Cross-engine determinism: each c·ln c
    * term is rounded to 6 dp and summed as DECIMAL(18,9) — the I6
    * recipe, summation-order-insensitive; counts and n divide/ln as
    * exact integers. Scale: both unit streams are keyed BY DOCUMENT
    * (explode → (doc, unit) groupBy, partial-agg'd, linear in corpus
    * size), and the char/word stat join is doc-keyed — no cross-doc
    * state anywhere. */
  def entropyStats(spark: SparkSession, dir: String): DataFrame = {
    def entropyOf(unit: DataFrame, u: String, nName: String, hName: String) =
      unit.groupBy(col("doc_id"), col(u)).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(nName),
          sum(round(col("c") * log(col("c")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).as("clnc"))
        .select(col("doc_id"), col(nName),
          round(log(col(nName)) - col("clnc").cast("double") / col(nName), 6)
            .as(hName))
    val chars = Tables.documents(spark, dir, fan = true).select(col("doc_id"),
      explode(expr("transform(sequence(1, length(text)), i -> substr(text, i, 1))"))
        .as("ch"))
    val words = Tables.documents(spark, dir, fan = true)
      .select(col("doc_id"), explode(nonEmptyToks).as("w"))
    entropyOf(chars, "ch", "n_chars_seen", "char_entropy")
      .join(entropyOf(words, "w", "n_tokens", "word_entropy"), "doc_id")
      .withColumn("diversity_band",
        when(col("word_entropy") < 3.0, "low")
          .when(col("word_entropy") < 4.0, "mid").otherwise("high"))
  }

  def entropyStatsSql: String = {
    def eSql(cc: String, nName: String, hName: String) =
      s"""SELECT doc_id, CAST(SUM(c) AS BIGINT) AS $nName,
         |    ROUND(ln(SUM(c)) - CAST(SUM(CAST(ROUND(c * ln(c), 6)
         |        AS DECIMAL(18,9))) AS DOUBLE) / SUM(c), 6) AS $hName
         |  FROM $cc GROUP BY 1""".stripMargin
    s"""WITH ch AS (
       |  SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
       |    i -> substring(text, i, 1))) AS ch
       |  FROM documents
       |), cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
       |ce AS (
       |${eSql("cc", "n_chars_seen", "char_entropy")}
       |), tk AS (
       |  SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents
       |), wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       |we AS (
       |${eSql("wc", "n_tokens", "word_entropy")}
       |)
       |SELECT ce.doc_id, n_chars_seen, char_entropy, n_tokens, word_entropy,
       |  CASE WHEN word_entropy < 3.0 THEN 'low'
       |       WHEN word_entropy < 4.0 THEN 'mid' ELSE 'high' END AS diversity_band
       |FROM ce JOIN we ON ce.doc_id = we.doc_id""".stripMargin
  }

  /** Minimum bigram count for I17 — PMI is unstable on rare pairs
    * (a single co-occurrence of two rare words maxes the score), so
    * collocation extraction conventionally floors the pair count. */
  private val PmiMinCount = 5

  /** I17 `text_pmi_collocations` — collocation extraction by
    * pointwise mutual information (Church & Hanks 1990):
    * PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) from the
    * bigram space (c_xy / N_bigrams) and the unigram marginals from
    * the token space (c_x / N_tokens) — the standard mixed-space
    * estimator. Pairs with c_xy < [[PmiMinCount]] are floored out
    * (rare-pair PMI is noise), and the serve is a deterministic
    * top-k on the fully-tiebroken (pmi desc, w1, w2) order.
    * Cross-engine determinism: counts are exact BIGINTs; the PMI
    * argument is computed with EXPLICIT double casts in a fixed
    * association order so both engines evaluate the identical IEEE
    * expression, then rounded to 6 dp.
    *
    * Scale: bigram and unigram counts are linear partial-agg
    * shuffles (I10's shape); the two marginal attachments are
    * equi-joins on the word key (vocab-sized sides — NOT broadcast:
    * web-scale vocab with hapax mass outgrows a broadcast table);
    * the corpus totals ride one 1-row broadcast attach; the final
    * top-k is a distributed TakeOrdered. */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Int = PmiMinCount, k: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c_uni"))
    val bigr = toks
      .select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val totals = uni.agg(sum(col("c_uni")).as("n_tok"))
      .crossJoin(broadcast(bigr.groupBy().agg(count(lit(1)).as("n_big"))))
    bigr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c_uni").as("c_w1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c_uni").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("c_pair").cast("double") * col("n_tok").cast("double") *
          col("n_tok").cast("double")) /
          (col("n_big").cast("double") * col("c_w1").cast("double") *
            col("c_w2").cast("double"))), 6))
      .select(col("w1"), col("w2"), col("c_pair"), col("c_w1"), col("c_w2"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def pmiCollocationsSql(minCount: Int = PmiMinCount, k: Int = 50): String =
    s"""WITH toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), uni AS (
       |  SELECT t, COUNT(*) AS c_uni FROM (
       |    SELECT unnest(w) AS t FROM toksw
       |  ) GROUP BY 1
       |), bigr AS (
       |  SELECT b['w1'] AS w1, b['w2'] AS w2 FROM (
       |    SELECT unnest(list_transform(range(1, len(w)),
       |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |    FROM toksw WHERE len(w) >= 2
       |  )
       |), totals AS (
       |  SELECT (SELECT CAST(SUM(c_uni) AS BIGINT) FROM uni) AS n_tok,
       |    (SELECT COUNT(*) FROM bigr) AS n_big
       |), pairs AS (
       |  SELECT w1, w2, COUNT(*) AS c_pair FROM bigr GROUP BY 1, 2
       |  HAVING COUNT(*) >= $minCount
       |)
       |SELECT w1, w2, c_pair, c_w1, c_w2,
       |  ROUND(ln((CAST(c_pair AS DOUBLE) * CAST(n_tok AS DOUBLE)
       |      * CAST(n_tok AS DOUBLE))
       |    / (CAST(n_big AS DOUBLE) * CAST(c_w1 AS DOUBLE)
       |      * CAST(c_w2 AS DOUBLE))), 6) AS pmi
       |FROM (
       |  SELECT p.w1, p.w2, p.c_pair,
       |    u1.c_uni AS c_w1, u2.c_uni AS c_w2, n_tok, n_big
       |  FROM pairs p
       |  JOIN uni u1 ON p.w1 = u1.t
       |  JOIN uni u2 ON p.w2 = u2.t
       |  CROSS JOIN totals
       |)
       |ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

  /** I18 `text_bpe_encode` — APPLY the trained tokenizer (the encode
    * half of I15, which learns the merges): every document's
    * whitespace tokens are encoded with the [[BpeTrainMerges]]-merge
    * BPE dictionary and served as per-doc token accounting
    * (whitespace tokens vs BPE symbols) — the "how many tokens is my
    * corpus under this tokenizer" pass every training-data budget
    * starts from. Because the dictionary is trained on THIS corpus's
    * word types, encoding is a dictionary LOOKUP, not a re-merge:
    * the trained word table already holds each type's final symbol
    * sequence, and symbols-per-word = count of chr(1)-wrapped
    * segments = (len(repr) − len(repr without chr(1))) / 2.
    * Out-of-dictionary tokens (non-[a-z0-9], excluded from training)
    * count 1 each — the byte-fallback convention. Scale: the encode
    * join is token-keyed equi against the vocab-sized dictionary
    * (word TYPES, not occurrences), then a doc-keyed rollup — both
    * linear, partial-agg'd; the 3-iteration training cost is the
    * same bounded metadata pass I15 pays. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val dict = bpeTrained(spark, dir)._1
      .select(col("token").as("t"),
        expr("(length(repr) - length(replace(repr, chr(1), ''))) div 2")
          .as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(nonEmptyToks).as("t"))
      .join(dict, Seq("t"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws_tokens"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_bpe_tokens"))
  }

  def bpeEncodeSql: String =
    s"""WITH $bpeSqlCtes, toks AS (
       |  SELECT doc_id, unnest(list_filter(str_split(text, ' '),
       |    x -> x <> '')) AS t
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id,
       |    CASE WHEN r.token IS NULL THEN 1
       |         ELSE (length(repr) - length(replace(repr, chr(1), ''))) // 2
       |    END AS n_sym
       |  FROM toks LEFT JOIN rep$BpeTrainMerges r ON t = r.token
       |)
       |SELECT doc_id, COUNT(*) AS n_ws_tokens,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY 1""".stripMargin

  /** I31 `text_tokenizer_eval` — tokenizer-efficiency report by
    * source under the trained BPE (I15/I18's dictionary): the eval a
    * tokenizer change actually ships on — per source, FERTILITY
    * (BPE symbols per whitespace word; the sentencepiece/HF metric),
    * CHARS-PER-TOKEN (compression — what a token budget buys), and
    * OOV RATE (byte-fallback share, the out-of-dictionary fraction).
    * A 100 TB corpus prices its token budget (M11) and its packing
    * (M4) off exactly these three numbers, and regressions here are
    * how tokenizer swaps get caught before a training run.
    * Exactness: all five counters are exact integer sums; the three
    * ratios are single IEEE divisions of those sums, round-6 — the
    * house fixed-shape rule. Scale: I18's economics unchanged — one
    * token explode (map-side), a vocab-keyed dictionary equi join
    * (word TYPES, not occurrences), one source-keyed rollup; the
    * training cost is I15's bounded metadata pass, memoized. */
  def tokenizerEval(spark: SparkSession, dir: String): DataFrame = {
    val dict = bpeTrained(spark, dir)._1
      .select(col("token").as("t"),
        expr("(length(repr) - length(replace(repr, chr(1), ''))) div 2")
          .as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(nonEmptyToks).as("t"))
      .join(dict, Seq("t"), "left_outer")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_ws_tokens"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_bpe_tokens"),
        sum(length(col("t")).cast("long")).as("n_chars"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_docs"), col("n_ws_tokens"),
        col("n_bpe_tokens"), col("n_chars"), col("n_oov"),
        round(col("n_bpe_tokens").cast("double")
          / col("n_ws_tokens").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double")
          / col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"),
        round(col("n_oov").cast("double")
          / col("n_ws_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy(col("source"))
  }

  def tokenizerEvalSql: String =
    s"""WITH $bpeSqlCtes, toks AS (
       |  SELECT doc_id, source, unnest(list_filter(str_split(text, ' '),
       |    x -> x <> '')) AS t
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id, source, length(t) AS n_ch,
       |    CASE WHEN r.token IS NULL THEN NULL
       |         ELSE (length(repr) - length(replace(repr, chr(1), ''))) // 2
       |    END AS n_sym
       |  FROM toks LEFT JOIN rep$BpeTrainMerges r ON t = r.token
       |)
       |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_ws_tokens,
       |  CAST(SUM(COALESCE(n_sym, 1)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(CASE WHEN n_sym IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  ROUND(CAST(SUM(COALESCE(n_sym, 1)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
       |  ROUND(CAST(SUM(n_ch) AS DOUBLE)
       |    / CAST(SUM(COALESCE(n_sym, 1)) AS DOUBLE), 6) AS chars_per_token,
       |  ROUND(CAST(SUM(CASE WHEN n_sym IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
       |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic normalization hazards for I32 (the corpus is clean
    * lowercase single-spaced word soup, so round-trip loss must be
    * PLANTED — the M18 planted-truth discipline): every 11th doc (+1)
    * uppercases its first character (a case-folding loss iff that
    * character is a letter — the truth counter carries the same
    * guard), every 13th (+2) gains a trailing space (a whitespace-
    * collapse loss), every 7th (+3) appends a punctuated token
    * `end.` (outside the tokenizer's ^[a-z0-9]+$ training alphabet →
    * byte-fallback). Classes deliberately overlap on some docs so the
    * detectors are proven independent. */
  private[graft] def roundtripText: Column = concat(
    when(pmod(col("doc_id"), lit(11)) === 1,
      concat(upper(substring(col("text"), 1, 1)), expr("substring(text, 2)")))
      .otherwise(col("text")),
    when(pmod(col("doc_id"), lit(13)) === 2, lit(" ")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(7)) === 3, lit(" end.")).otherwise(lit("")))

  /** I32 `text_tokenizer_roundtrip` — tokenizer round-trip FIDELITY
    * eval, completing the tokenizer story (train I15 → encode I18 →
    * efficiency I31 → fidelity here): does decode(encode(doc))
    * reconstruct the document, and when it cannot, WHICH
    * normalization rule ate the difference? The tokenizer under test
    * is the I15-trained BPE with the standard normalizer (lowercase +
    * whitespace collapse) and byte-fallback for out-of-alphabet
    * tokens (the sentencepiece convention). decode(encode(normalize
    * (doc))) == normalize(doc) is a THEOREM for pure-concatenation
    * BPE merges — so it is checked MECHANICALLY, not assumed: every
    * in-dictionary occurrence re-derives its surface form by
    * stripping the merge separators from the trained repr and
    * compares it to the token (`n_decode_mismatch`, served, expected
    * 0 — a nonzero is a tokenizer bug caught by a counter, the I30
    * eval discipline). Against the RAW document the losses are the
    * normalizer's by construction, and each planted hazard class
    * ([[roundtripText]]) carries its injected-truth counter, so the
    * served `*_detect_ratio`s must read exactly 1.0 — a miss in
    * either direction moves a counter (M18's planted-eval shape).
    * Exactness: all counters are exact integers; the rates are
    * single IEEE divisions round-6; ratios NULL-guard a zero
    * injected count. Scale: I18's economics — one token explode
    * (map-side), a vocab-keyed dictionary equi join over word TYPES,
    * a doc-keyed rollup, then a bounded source rollup; the training
    * cost is I15's bounded metadata pass. */
  def tokenizerRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val dict = bpeTrained(spark, dir)._1
      .select(col("token").as("lt"),
        expr("replace(replace(repr, chr(1), ''), chr(2), '')").as("decoded"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (pmod(col("doc_id"), lit(11)) === 1 &&
          substring(col("text"), 1, 1).between("a", "z")).as("case_inj"),
        (pmod(col("doc_id"), lit(13)) === 2).as("ws_inj"),
        (pmod(col("doc_id"), lit(7)) === 3).as("fb_inj"),
        roundtripText.as("rt"))
      .withColumn("case_loss", lower(col("rt")) =!= col("rt"))
      .withColumn("ws_loss",
        array_join(filter(split(col("rt"), " "), c => c =!= ""), " ")
          =!= col("rt"))
    val keys = Seq("doc_id", "source", "case_inj", "ws_inj", "fb_inj",
      "case_loss", "ws_loss").map(col)
    val perDoc = docs
      .select(keys :+
        explode(filter(split(lower(col("rt")), " "), c => c =!= "")).as("lt"): _*)
      .join(dict, Seq("lt"), "left_outer")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("decoded").isNull, 1L).otherwise(0L)).as("n_fb"),
        sum(when(col("decoded").isNotNull && col("decoded") =!= col("lt"), 1L)
          .otherwise(0L)).as("n_mm"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
    perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("case_loss") && !col("ws_loss") && col("n_mm") === 0, 1L)
          .otherwise(0L)).as("n_roundtrip_exact"),
        sum(when(col("case_loss"), 1L).otherwise(0L)).as("n_case_loss"),
        sum(when(col("case_inj"), 1L).otherwise(0L)).as("n_case_injected"),
        sum(when(col("ws_loss"), 1L).otherwise(0L)).as("n_ws_loss"),
        sum(when(col("ws_inj"), 1L).otherwise(0L)).as("n_ws_injected"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_fb")).as("n_fallback"),
        sum(when(col("fb_inj"), 1L).otherwise(0L)).as("n_fallback_injected"),
        sum(col("n_mm")).as("n_decode_mismatch"))
      .select(col("source"), col("n_docs"), col("n_roundtrip_exact"),
        col("n_case_loss"), col("n_case_injected"), col("n_ws_loss"),
        col("n_ws_injected"), col("n_tokens"), col("n_fallback"),
        col("n_fallback_injected"), col("n_decode_mismatch"),
        round(col("n_roundtrip_exact").cast("double")
          / col("n_docs").cast("double"), 6).as("roundtrip_rate"),
        round(col("n_fallback").cast("double")
          / col("n_tokens").cast("double"), 6).as("fallback_share"),
        ratio(col("n_case_loss"), col("n_case_injected"))
          .as("case_detect_ratio"),
        ratio(col("n_ws_loss"), col("n_ws_injected")).as("ws_detect_ratio"),
        ratio(col("n_fallback"), col("n_fallback_injected"))
          .as("fallback_detect_ratio"))
      .orderBy(col("source"))
  }

  def tokenizerRoundtripSql: String =
    s"""WITH $bpeSqlCtes, base AS (
       |  SELECT doc_id, source,
       |    (doc_id % 11 = 1 AND substr(text, 1, 1) BETWEEN 'a' AND 'z')
       |      AS case_inj,
       |    doc_id % 13 = 2 AS ws_inj,
       |    doc_id % 7 = 3 AS fb_inj,
       |    CASE WHEN doc_id % 11 = 1
       |         THEN upper(substr(text, 1, 1)) || substr(text, 2)
       |         ELSE text END
       |      || CASE WHEN doc_id % 13 = 2 THEN ' ' ELSE '' END
       |      || CASE WHEN doc_id % 7 = 3 THEN ' end.' ELSE '' END AS rt
       |  FROM documents
       |), flags AS (
       |  SELECT *, lower(rt) <> rt AS case_loss,
       |    array_to_string(list_filter(str_split(rt, ' '), x -> x <> ''), ' ')
       |      <> rt AS ws_loss
       |  FROM base
       |), rtoks AS (
       |  SELECT doc_id, source, case_inj, ws_inj, fb_inj, case_loss, ws_loss,
       |    unnest(list_filter(str_split(lower(rt), ' '), x -> x <> '')) AS lt
       |  FROM flags
       |), enc AS (
       |  SELECT t.*, CASE WHEN r.token IS NULL THEN NULL
       |    ELSE replace(replace(repr, chr(1), ''), chr(2), '') END AS decoded
       |  FROM rtoks t LEFT JOIN rep$BpeTrainMerges r ON t.lt = r.token
       |), perdoc AS (
       |  SELECT doc_id, source, case_inj, ws_inj, fb_inj, case_loss, ws_loss,
       |    COUNT(*) AS n_toks,
       |    SUM(CASE WHEN decoded IS NULL THEN 1 ELSE 0 END) AS n_fb,
       |    SUM(CASE WHEN decoded IS NOT NULL AND decoded <> lt THEN 1 ELSE 0 END)
       |      AS n_mm
       |  FROM enc GROUP BY 1, 2, 3, 4, 5, 6, 7
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT case_loss AND NOT ws_loss AND n_mm = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_exact,
       |  CAST(SUM(CASE WHEN case_loss THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_case_loss,
       |  CAST(SUM(CASE WHEN case_inj THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_case_injected,
       |  CAST(SUM(CASE WHEN ws_loss THEN 1 ELSE 0 END) AS BIGINT) AS n_ws_loss,
       |  CAST(SUM(CASE WHEN ws_inj THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ws_injected,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_fb) AS BIGINT) AS n_fallback,
       |  CAST(SUM(CASE WHEN fb_inj THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fallback_injected,
       |  CAST(SUM(n_mm) AS BIGINT) AS n_decode_mismatch,
       |  ROUND(CAST(SUM(CASE WHEN NOT case_loss AND NOT ws_loss AND n_mm = 0
       |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS roundtrip_rate,
       |  ROUND(CAST(SUM(n_fb) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE), 6)
       |    AS fallback_share,
       |  CASE WHEN SUM(CASE WHEN case_inj THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE ROUND(CAST(SUM(CASE WHEN case_loss THEN 1 ELSE 0 END)
       |         AS DOUBLE) / CAST(SUM(CASE WHEN case_inj THEN 1 ELSE 0 END)
       |         AS DOUBLE), 6) END AS case_detect_ratio,
       |  CASE WHEN SUM(CASE WHEN ws_inj THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE ROUND(CAST(SUM(CASE WHEN ws_loss THEN 1 ELSE 0 END)
       |         AS DOUBLE) / CAST(SUM(CASE WHEN ws_inj THEN 1 ELSE 0 END)
       |         AS DOUBLE), 6) END AS ws_detect_ratio,
       |  CASE WHEN SUM(CASE WHEN fb_inj THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE ROUND(CAST(SUM(n_fb) AS DOUBLE)
       |         / CAST(SUM(CASE WHEN fb_inj THEN 1 ELSE 0 END)
       |         AS DOUBLE), 6) END AS fallback_detect_ratio
       |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin

  private val RakeStop = Seq("the", "a", "of", "and", "in", "to", "is",
    "for", "with", "on")

  /** I20 `text_rake_keywords` — RAKE keyword extraction (Rose et
    * al. 2010): candidate phrases are the maximal stopword-free word
    * runs (phrase segmentation IS L2's sessionization mechanic — a
    * running count of stopword boundaries per document numbers the
    * phrases), each word scores degree/freq over the whole corpus
    * (degree = Σ length of phrases containing it — co-occurrence
    * weight; freq = occurrences), and a phrase scores the sum of its
    * word scores. Every count is an exact integer; the word score is
    * one IEEE division, and the phrase sum is a LEFT-TO-RIGHT fold
    * in phrase-word order in BOTH engines (Spark `aggregate`,
    * DuckDB `list_reduce` over an ORDER BY pos array) so float
    * addition order — the classic cross-engine drift — is pinned by
    * construction. Serve = top-k by (score, phrase), round-6dp.
    * Scale: token explode is map-side; phrase assembly shares one
    * doc-keyed window shuffle; word stats collapse to vocab size;
    * the scoring join is vocab-keyed. */
  def rakeKeywords(spark: SparkSession, dir: String,
                   limit: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(nonEmptyToks).as(Seq("pos", "w")))
      .withColumn("is_stop", col("w").isin(RakeStop: _*))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = toks
      .withColumn("pid", sum(col("is_stop").cast("long")).over(byDoc))
      .filter(!col("is_stop"))
    val phrases = words
      .groupBy(col("doc_id"), col("pid"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          x => x("w")), " ").as("phrase"),
        count(lit(1)).as("plen"))
    val wordStats = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("plen"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("score",
        col("degree").cast("double") / col("freq").cast("double"))
    val distinctPhrases = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
    distinctPhrases
      .select(col("phrase"), col("n_occurrences"),
        posexplode(split(col("phrase"), " ")).as(Seq("pos", "w")))
      .join(wordStats.select(col("w"), col("score")), "w")
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("pos"), col("score")))),
          x => x("score")),
        lit(0.0), (acc, x) => acc + x).as("rake_raw"))
      .select(col("phrase"), size(split(col("phrase"), " ")).as("n_words"),
        col("n_occurrences"), round(col("rake_raw"), 6).as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
      .limit(limit)
  }

  def rakeKeywordsSql(limit: Int = 50): String = {
    val stops = RakeStop.map(s => s"'$s'").mkString(", ")
    s"""WITH toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, t.pos, t.word,
       |    t.word IN ($stops) AS is_stop
       |  FROM toksw, unnest(list_transform(range(1, len(w) + 1),
       |    i -> struct_pack(pos := i, word := w[i]))) AS u(t)
       |), flagged AS (
       |  SELECT doc_id, pos, word,
       |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid,
       |    is_stop
       |  FROM toks
       |), phrases AS (
       |  SELECT doc_id, pid,
       |    string_agg(word, ' ' ORDER BY pos) AS phrase,
       |    COUNT(*) AS plen
       |  FROM flagged WHERE NOT is_stop GROUP BY 1, 2
       |), ws AS (
       |  SELECT u.w, COUNT(*) AS freq,
       |    CAST(SUM(plen) AS BIGINT) AS degree
       |  FROM phrases, unnest(str_split(phrase, ' ')) AS u(w)
       |  GROUP BY 1
       |), wsc AS (
       |  SELECT w, CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS score
       |  FROM ws
       |), dp AS (
       |  SELECT phrase, COUNT(*) AS n_occurrences FROM phrases GROUP BY 1
       |), pw AS (
       |  SELECT dp.phrase, dp.n_occurrences, t.pos, t.word
       |  FROM dp, unnest(list_transform(range(1, len(str_split(phrase, ' ')) + 1),
       |    i -> struct_pack(pos := i, word := str_split(phrase, ' ')[i]))) AS u(t)
       |)
       |SELECT pw.phrase,
       |  len(str_split(pw.phrase, ' ')) AS n_words,
       |  pw.n_occurrences,
       |  ROUND(list_reduce(array_agg(wsc.score ORDER BY pw.pos),
       |                    (a, b) -> a + b), 6) AS rake_score
       |FROM pw JOIN wsc ON pw.word = wsc.w
       |GROUP BY 1, 2, 3
       |ORDER BY rake_score DESC, phrase LIMIT $limit""".stripMargin
  }

  /** I19 `text_kneser_ney` — interpolated Kneser–Ney bigram
    * probabilities (Chen & Goodman 1998, the reference smoothing of
    * every n-gram toolkit and the quality bar I14's stupid backoff
    * trades away): p(w2|w1) = (c12 − D)/c1 + D·N1+(w1·)/c1 ·
    * N1+(·w2)/N1+(··), absolute discount D = 0.75. The continuation
    * count N1+(·w2) — in how many DISTINCT contexts w2 completes a
    * bigram — is what distinguishes KN from plain backoff: frequent
    * words appearing in few contexts ("Francisco") get small
    * continuation mass. Every ingredient is an integer count off the
    * bigram-count table; the probability is one fully-parenthesized
    * IEEE expression evaluated identically in both engines, rounded
    * 9dp at serve.
    *
    * Scale: one bigram-keyed rollup; context (w1) and continuation
    * (w2) marginals are partial-agg'd re-rollups of THAT table (not
    * of the corpus); the type total is a 1-row broadcast attach;
    * marginal attachments are vocabulary-keyed equi joins; serve is
    * a distributed TakeOrdered. Spec replays the formula on the
    * driver from raw bigram counts and asserts the per-context
    * total-mass law (observed + unseen backoff mass = 1). */
  def kneserNey(spark: SparkSession, dir: String,
                minCount: Long = LmMinCount, limit: Int = 100): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), nonEmptyToks.as("w"))
    val bigr = toks
      .select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bigr.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = bc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_w1"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w2"))
    val types = bc.agg(count(lit(1)).as("n_types"))
    val d = lit(0.75)
    val pkn =
      ((col("c12").cast("double") - d) / col("c1").cast("double")) +
        (((d * col("n1p_w1").cast("double")) / col("c1").cast("double")) *
          (col("n1p_w2").cast("double") / col("n_types").cast("double")))
    bc.filter(col("c12") >= minCount)
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        round(pkn, 9).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w1"), col("w2"))
      .limit(limit)
  }

  def kneserNeySql(minCount: Long = LmMinCount, limit: Int = 100): String =
    s"""WITH toksw AS (
       |  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), bg AS (
       |  SELECT unnest(list_transform(range(1, len(w)),
       |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |  FROM toksw WHERE len(w) >= 2
       |), pairs AS (
       |  SELECT b.w1 AS w1, b.w2 AS w2 FROM bg
       |), bc AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1p_w1
       |  FROM bc GROUP BY 1
       |), cont AS (
       |  SELECT w2, COUNT(*) AS n1p_w2 FROM bc GROUP BY 1
       |), types AS (SELECT COUNT(*) AS n_types FROM bc)
       |SELECT bc.w1, bc.w2, c12,
       |  ROUND(((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)) +
       |        (((0.75 * CAST(n1p_w1 AS DOUBLE)) / CAST(c1 AS DOUBLE)) *
       |         (CAST(n1p_w2 AS DOUBLE) / CAST(n_types AS DOUBLE))), 9)
       |    AS p_kn
       |FROM bc JOIN ctx ON bc.w1 = ctx.w1
       |        JOIN cont ON bc.w2 = cont.w2
       |        CROSS JOIN types
       |WHERE c12 >= $minCount
       |ORDER BY p_kn DESC, bc.w1, bc.w2 LIMIT $limit""".stripMargin

  private val VocabGrowthBucket = 64L

  /** I24 `text_vocab_growth` — Heaps'-law vocabulary-growth curve:
    * documents in ingest order (doc_id) are grouped into buckets of
    * [[VocabGrowthBucket]], and each bucket reports cumulative tokens
    * vs cumulative distinct word TYPES — the V(n) ≈ K·n^β curve whose
    * flattening tells a corpus curator when additional data stops
    * adding vocabulary (the macro twin of G22's per-doc novelty).
    * The served `beta_hat` = ln V / ln N per bucket is the running
    * Heaps exponent estimate (exact-integer inputs → one libm ln +
    * 9 dp round, the I-family float discipline).
    *
    * Scale: NO corpus-wide ordered scan — "cumulative distinct" is
    * recast as first-occurrence ownership (min doc_id per type, the
    * G22 mechanic): one token-keyed min rollup assigns each type to
    * the bucket that coined it, one doc-keyed rollup counts tokens,
    * and the cumulative sums run over the BUCKET table (n_docs /
    * [[VocabGrowthBucket]] rows — metadata-scale, the only onePart
    * window). Everything corpus-sized moves through keyed partial
    * aggs. */
  def vocabGrowth(spark: SparkSession, dir: String,
                  bucket: Long = VocabGrowthBucket): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(nonEmptyToks).as("t"))
    val newTypes = toks.groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
      .groupBy((col("fd") / bucket).cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val base = Tables.documents(spark, dir)
      .select((col("doc_id") / bucket).cast("long").as("bucket"),
        size(nonEmptyToks).cast("long").as("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    // bucket table is metadata-scale (docs / bucket size): the
    // cumulative window runs there, never over per-doc rows
    val wCum = Window.partitionBy(Obs.onePart(col("bucket")))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("new_types"),
        sum(col("n_tokens")).over(wCum).as("cum_tokens"),
        sum(col("new_types")).over(wCum).as("cum_types"))
      .withColumn("beta_hat",
        round(log(col("cum_types").cast("double")) /
          log(col("cum_tokens").cast("double")), 9))
      .orderBy(col("bucket"))
  }

  def vocabGrowthSql(bucket: Long = VocabGrowthBucket): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(str_split(text, ' '),
       |    x -> x <> '')) AS t
       |  FROM documents
       |), nt AS (
       |  SELECT CAST(MIN(doc_id) // $bucket AS BIGINT) AS bucket, t
       |  FROM toks GROUP BY t
       |), newt AS (
       |  SELECT bucket, COUNT(*) AS new_types FROM nt GROUP BY 1
       |), base AS (
       |  SELECT CAST(doc_id // $bucket AS BIGINT) AS bucket,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(len(list_filter(str_split(text, ' '), x -> x <> '')))
       |         AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1
       |), j AS (
       |  SELECT b.bucket, b.n_docs, b.n_tokens,
       |    COALESCE(n.new_types, 0) AS new_types
       |  FROM base b LEFT JOIN newt n ON b.bucket = n.bucket
       |)
       |SELECT bucket, n_docs, n_tokens, new_types,
       |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       |  CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types,
       |  ROUND(ln(CAST(SUM(new_types) OVER w AS DOUBLE))
       |    / ln(CAST(SUM(n_tokens) OVER w AS DOUBLE)), 9) AS beta_hat
       |FROM j
       |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND CURRENT ROW)
       |ORDER BY bucket""".stripMargin

  /** I25 `text_zipf_fit` — Zipf rank–frequency law fit over the
    * corpus unigram distribution: the top-`topK` word types by
    * frequency, each served with its rank, plus the log-log OLS fit
    * ln c ≈ intercept − exponent·ln rank attached to every row — the
    * companion diagnostic to I24's Heaps curve (an exponent near 1 is
    * the signature of natural language; a flat slope flags synthetic
    * or template text, a steep one a degenerate vocabulary — the
    * macro check a curator runs beside I22's per-source signals).
    *
    * Cross-engine exactness: each ln (one per rank, one per top
    * count) is rounded at the 1e-6 grain and SCALED TO BIGINT, so all
    * four OLS moments (Σx, Σy, Σxy, Σx²) are exact integer sums —
    * order-insensitive — and the closed-form slope/intercept are
    * single divisions of exact DECIMAL(38,0)/HUGEINT quantities (the
    * intercept numerator Σy·Σx² − Σx·Σxy reaches ~1e24, past BIGINT,
    * so the moment algebra runs in decimal; both engines then cast
    * the SAME exact integer to double — IEEE-identical). Overflow
    * headroom: ln c ≤ 28 even at 10¹² occurrences, so k·Σxy stays
    * under 2^63 for topK ≤ ~200; the default 100 (param 50) sits well
    * inside the bound.
    *
    * Scale: the corpus pays one token-keyed rollup (the linear
    * I-family shuffle); the top-K pick is a TakeOrdered (never a full
    * sort), ranking + moments run on the bounded K-row table (the
    * documented post-LIMIT onePart class), and the 1-row fit
    * broadcasts back onto the K served rows. */
  def zipfFit(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(nonEmptyToks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("token")).limit(topK)
    val ranked = top.select(col("token"), col("c"),
        row_number().over(Window.partitionBy(Obs.onePart(col("c")))
          .orderBy(col("c").desc, col("token"))).as("rank"))
      .select(col("rank"), col("token"), col("c"),
        expr("CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("lr_e6"),
        expr("CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("lc_e6"))
    val fit = ranked.groupBy()
      .agg(count(lit(1)).as("k"),
        sum(col("lr_e6")).as("sx"), sum(col("lc_e6")).as("sy"),
        sum(col("lr_e6") * col("lc_e6")).as("sxy"),
        sum(col("lr_e6") * col("lr_e6")).as("sxx"))
      .select(
        round(expr(
          """-CAST(CAST(k AS DECIMAL(38,0)) * sxy
            |      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
            | / CAST(CAST(k AS DECIMAL(38,0)) * sxx
            |      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)""".stripMargin),
          6).as("zipf_exponent"),
        round(expr(
          """CAST(CAST(sy AS DECIMAL(38,0)) * sxx
            |     - CAST(sx AS DECIMAL(38,0)) * sxy AS DOUBLE)
            | / CAST(CAST(k AS DECIMAL(38,0)) * sxx
            |      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) / 1e6""".stripMargin),
          6).as("fit_intercept_ln"))
    ranked.select(col("rank"), col("token"), col("c"))
      .crossJoin(broadcast(fit))
      .orderBy(col("rank"))
  }

  def zipfFitSql(topK: Int = 100): String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(str_split(text, ' '), x -> x <> ''))
       |    AS token
       |  FROM documents
       |), counts AS (
       |  SELECT token, COUNT(*) AS c FROM t GROUP BY 1
       |), top AS (
       |  SELECT token, c FROM counts ORDER BY c DESC, token LIMIT $topK
       |), ranked AS (
       |  SELECT token, c,
       |    ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
       |  FROM top
       |), pts AS (
       |  SELECT rank, token, c,
       |    CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lr_e6,
       |    CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS lc_e6
       |  FROM ranked
       |), fit AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
       |    CAST(SUM(lr_e6) AS HUGEINT) AS sx,
       |    CAST(SUM(lc_e6) AS HUGEINT) AS sy,
       |    CAST(SUM(lr_e6 * lc_e6) AS HUGEINT) AS sxy,
       |    CAST(SUM(lr_e6 * lr_e6) AS HUGEINT) AS sxx
       |  FROM pts
       |)
       |SELECT p.rank, p.token, p.c,
       |  ROUND(-CAST(k * sxy - sx * sy AS DOUBLE)
       |    / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_exponent,
       |  ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
       |    / CAST(k * sxx - sx * sx AS DOUBLE) / 1e6, 6) AS fit_intercept_ln
       |FROM pts p CROSS JOIN fit
       |ORDER BY rank""".stripMargin

  private val TrScale = 1000000000L

  /** I27 `text_textrank` — TextRank keyword extraction (Mihalcea &
    * Tarau, EMNLP'04): damped PageRank over the word CO-OCCURRENCE
    * graph (adjacent-token pairs, weights = corpus co-occurrence
    * counts), the graph-centrality companion to RAKE (I20,
    * degree-based) and TF-IDF (I5, frequency-based) — a word ranks
    * high when it co-occurs with other high-ranking words, not merely
    * when it is frequent. O1's BIGINT fixed-point recurrence adapted
    * to WEIGHTED edges: r' = 0.15·SCALE + (85 · Σ_u (r_u·w_uv) div
    * W_u) div 100 with the r·w product widened through DECIMAL(38,0)
    * (at 100 TB mass ~10¹⁷ times hub weights ~10⁶ the BIGINT multiply
    * would wrap silently — the O1 ×85 class); every operation integer,
    * engine-exact, no float-sum order sensitivity. Both engines run
    * exactly `iters` rounds (oracle unrolls CTEs). The UNWEIGHTED
    * classic degenerates on this corpus (the 31-type vocabulary makes
    * the co-occurrence graph near-complete — every rank ties); the
    * weighted variant is also what the TextRank paper recommends for
    * keyword graphs.
    * Scale: the bigram rollup is ONE token-keyed linear shuffle; each
    * round is O1's own step ([[Graph.rankRounds]]: one src-keyed join
    * against the adjacency, cached for the loop + one dst-keyed partial
    * agg) over the (bounded) vocabulary graph, with vocab-sized rank
    * tables (never broadcast, always keyed); the converged rank table
    * is memoized like O1's. */
  def textrank(spark: SparkSession, dir: String, iters: Int = 5,
               limit: Int = 50): DataFrame = {
    val ranksFinal = Memo.checkpointed(spark, s"text.tr:$dir:$iters",
        docsSrc(dir)) {
      val bi = Tables.documents(spark, dir)
        .select(nonEmptyToks.as("w"))
        .select(explode(expr(
          """transform(slice(w, 1, size(w) - 1),
            |  (x, i) -> struct(x AS t1, element_at(w, i + 2) AS t2))"""
            .stripMargin)).as("p"))
        .filter(col("p.t1") =!= col("p.t2"))
        .select(least(col("p.t1"), col("p.t2")).as("a"),
          greatest(col("p.t1"), col("p.t2")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val edges = bi.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(bi.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val wt = edges.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
        .withColumnRenamed("src", "node")
      // r·w widened through DECIMAL before the integral divide
      Graph.rankRounds(
          edges.join(wt, edges("src") === wt("node"))
            .select(col("src"), col("dst"), col("w"), col("wtot")),
          wt.select(col("node"), lit(TrScale).as("rank")), iters,
          "(CAST(rank AS DECIMAL(38,0)) * w) div wtot")(
        _.select(col("node"), (lit(15L * TrScale / 100) + col("m")).as("rank")))
    }
    ranksFinal.select(col("node").as("word"), col("rank").as("textrank_fp"))
      .orderBy(col("textrank_fp").desc, col("word"))
      .limit(limit)
  }

  def textrankSql(iters: Int = 5, limit: Int = 50): String = {
    val steps = (1 to iters).map { i =>
      // HUGEINT, NOT DECIMAL: DuckDB's // on DECIMAL operands is
      // plain division (21 // 4 = 5.25) — only integer types floor
      s"""r$i AS (SELECT a.dst AS word,
         |  CAST(${15L * TrScale / 100}
         |    + (85 * SUM((CAST(r.rank AS HUGEINT) * a.w) // a.wtot))
         |      // 100 AS BIGINT) AS rank
         |  FROM adj a JOIN r${i - 1} r ON a.src = r.word
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT list_filter(str_split(text, ' '), x -> x <> '') AS w
       |  FROM documents
       |), bi AS (
       |  SELECT LEAST(w[i], w[i+1]) AS a, GREATEST(w[i], w[i+1]) AS b,
       |    COUNT(*) AS w
       |  FROM toks, unnest(range(1, len(w))) AS t(i)
       |  WHERE w[i] <> w[i+1] GROUP BY 1, 2
       |), edges AS (SELECT a AS src, b AS dst, w FROM bi
       |             UNION ALL SELECT b, a, w FROM bi),
       |wt AS (SELECT src AS word, CAST(SUM(w) AS BIGINT) AS wtot
       |       FROM edges GROUP BY 1),
       |adj AS MATERIALIZED (SELECT e.src, e.dst, e.w, t.wtot
       |       FROM edges e JOIN wt t ON e.src = t.word),
       |r0 AS (SELECT word, CAST($TrScale AS BIGINT) AS rank FROM wt),
       |$steps
       |SELECT word, rank AS textrank_fp FROM r$iters
       |ORDER BY textrank_fp DESC, word LIMIT $limit""".stripMargin
  }

  /** I30 `text_quality_classifier` — TRAINED model-based quality
    * filter (the DCLM / FineWeb-Edu production shape: an expensive
    * corpus-global label distilled into a cheap per-doc classifier so
    * day-2 filtering needs no corpus-wide pass). The teacher label is
    * I6's unigram-LM surprisal — a corpus-global quantity (token
    * counts over the whole corpus) — split at its 30th/70th
    * percentiles: confident-clean (y=1, low surprisal) vs
    * confident-noisy (y=0, high surprisal), the middle band excluded
    * from training (standard confident-extremes distillation) but
    * still scored at serve. The student is a linear model over five
    * PER-DOC signals (I2's length/stopword/punctuation ratios, I22's
    * type-token ratio, and the top-[[QcVocabK]]-vocab hit rate —
    * the vocab list is a K-row broadcast artifact), trained by
    * [[QcEpochs]] epochs of full-batch delta-rule gradient descent
    * with the ALGEBRAIC sigmoid link σ(m) = ½(1 + m/(1+|m|)).
    *
    * Determinism (why this hash-matches DuckDB): the link is
    * RATIONAL — every training-loop operation is IEEE +,-,*,/ or
    * abs, each correctly rounded and therefore bit-identical in both
    * engines — so unlike exp/ln there is NO transcendental in the
    * iterated path at all; the only transcendental anywhere is the
    * teacher's one-shot per-token ln, which follows I21's
    * round(·,9)→DECIMAL(18,9)→decimal-sum discipline. Per-doc
    * gradient contributions are round(·,12)→DECIMAL(30,12) and
    * decimal-summed (order-insensitive), weights re-round to 12 dp
    * each epoch, feature means (train slice only) follow the same
    * rule, and the label thresholds are percentile_disc (an actual
    * data point — exact both engines). The oracle unrolls the epochs
    * as a CTE chain over a MATERIALIZED feature table.
    *
    * Scale: ONE token-keyed shuffle for corpus counts (linear), three
    * doc-keyed rollups (surprisal, vocab hits, features), then every
    * training epoch is one partial-aggregable pass over a
    * checkpointed doc×6 feature table — 1-row gradient, 1-row weight
    * update, broadcast back (epochs × linear, epochs fixed).
    * Weights/means/thresholds/vocab together are a few hundred bytes:
    * INFERENCE on new documents is broadcast-attach + per-row map —
    * exactly the shuffle-free day-2 filter the distillation buys.
    * Memoized per (dir, params) with release-on-supersede. */
  private val QcEpochs = 16
  private val QcLr = 4.0
  private val QcVocabK = 10
  private val QcScale = 10.0

  /** The distilled model a day-2 filter actually ships: final weights,
    * train-slice feature means, and the top-K vocab — a few hundred
    * bytes, collected once at build time (bounded driver scalars, the
    * ivfK/DPP-threshold pattern) so INFERENCE can run as pure per-row
    * expressions with zero joins and zero shuffles. */
  private[operators] final case class QcModel(serve: DataFrame,
      w: Array[Double], m: Array[Double], vocab: Array[String])

  private def qcFeatureCols: Seq[(String, Column)] = {
    val nToks = size(nonEmptyToks).cast("double")
    Seq(
      "x1" -> least(lit(1.0), nToks / lit(100.0)),
      "x2" -> (size(filter(nonEmptyToks,
        t => t.isin(stopwords.map(lit): _*).cast("boolean"))).cast("double") / nToks),
      "x3" -> (size(array_distinct(nonEmptyToks)).cast("double") / nToks),
      "x4" -> (length(regexp_replace(col("text"), " ", "")).cast("double")
        / nToks / lit(10.0)))
  }

  /** The memoized build: per-doc (doc_id, y, score, pred) with y NULL
    * on the excluded middle band. Serve + eval both read this. */
  private def qualityClassifierBuild(spark: SparkSession, dir: String,
                                     epochs: Int, lr: Double,
                                     vocabK: Int): DataFrame =
    qcModelBuild(spark, dir, epochs, lr, vocabK).serve

  private[operators] def qcModelBuild(spark: SparkSession, dir: String,
                                      epochs: Int = QcEpochs,
                                      lr: Double = QcLr,
                                      vocabK: Int = QcVocabK): QcModel = {
    import org.apache.spark.sql.types.DecimalType
    Memo[QcModel](spark, s"text.qc:$dir:$epochs:$lr:$vocabK", docsSrc(dir))(
        m => Ckpt.release(m.serve)) {
      val dec = DecimalType(30, 12)
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(nonEmptyToks).as("token"))
      val cnt = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum(col("c")).cast("double").as("n_corpus"))
      val vocab = cnt.orderBy(col("c").desc, col("token")).limit(vocabK)
        .select(col("token"), lit(1).as("inv"))
      // teacher: I6's mean token surprisal per doc (I21 discipline)
      val surp = toks.join(cnt, Seq("token"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          round(-log(col("c").cast("double") / col("n_corpus")), 9)
            .cast(DecimalType(18, 9)).as("lt"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("lt")).cast("double") / count(lit(1)), 9).as("s"))
      val th = surp.agg(
        expr("percentile_disc(0.3) WITHIN GROUP (ORDER BY s)").as("t30"),
        expr("percentile_disc(0.7) WITHIN GROUP (ORDER BY s)").as("t70"))
      val vhit = toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg((sum(when(col("inv").isNotNull, 1).otherwise(0)).cast("double")
          / count(lit(1)).cast("double")).as("x5"))
      val feat = Tables.documents(spark, dir)
        .select(col("doc_id") +: qcFeatureCols.map { case (n, c) => c.as(n) }: _*)
        .join(vhit, Seq("doc_id"))
        .join(surp, Seq("doc_id"))
        .crossJoin(broadcast(th))
        .select(col("doc_id"), col("x1"), col("x2"), col("x3"), col("x4"),
          col("x5"),
          when(col("s") <= col("t30"), 1)
            .when(col("s") >= col("t70"), 0).as("y"))
      val xs = (1 to 5).map(j => s"x$j")
      // centering means over the TRAIN slice only (round-then-decimal)
      val m = feat.filter(col("y").isNotNull)
        .agg(count(lit(1)).as("ntr"), xs.map(x =>
          sum(round(col(x), 12).cast(dec)).as(s"s_$x")): _*)
        .select(xs.map(x =>
          round(col(s"s_$x").cast("double") / col("ntr"), 12).as(s"m_$x")): _*)
      val z = feat.crossJoin(broadcast(m))
        .select(col("doc_id") +: col("y") +: xs.zipWithIndex.map {
          case (x, i) =>
            ((col(x) - col(s"m_$x")) * lit(QcScale)).as(s"z${i + 1}")
        }: _*)
        .cutLineage()
      val ztr = z.filter(col("y").isNotNull)
      def marginOf(w: String => Column): Column =
        w("w0") + w("w1") * col("z1") + w("w2") * col("z2") +
          w("w3") * col("z3") + w("w4") * col("z4") + w("w5") * col("z5")
      def sigmoid(mg: Column): Column =
        round(lit(0.5) * (lit(1.0) + mg / (lit(1.0) + abs(mg))), 12)
      val w0 = spark.range(1)
        .select((0 to 5).map(j => lit(0.0).as(s"w$j")): _*)
      val w = Ckpt.rounds(w0, epochs) { (w, _) =>
        val joined = ztr.crossJoin(broadcast(w))
        val g = joined
          .select((sigmoid(marginOf(col)) - col("y")).as("d"),
            col("z1"), col("z2"), col("z3"), col("z4"), col("z5"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("d"), 12).cast(dec)).as("s0"),
            sum(round(col("d") * col("z1"), 12).cast(dec)).as("s1"),
            sum(round(col("d") * col("z2"), 12).cast(dec)).as("s2"),
            sum(round(col("d") * col("z3"), 12).cast(dec)).as("s3"),
            sum(round(col("d") * col("z4"), 12).cast(dec)).as("s4"),
            sum(round(col("d") * col("z5"), 12).cast(dec)).as("s5"))
          .select(col("n") +: (0 to 5).map(j =>
            col(s"s$j").cast("double").as(s"g$j")): _*)
        w.crossJoin(broadcast(g))
          .select((0 to 5).map(j =>
            round(col(s"w$j") - lit(lr) * col(s"g$j") / col("n"), 12)
              .as(s"w$j")): _*)
      }
      // distill the shippable model: three bounded driver fetches
      // (1 row of weights, 1 row of means, K vocab tokens) — the
      // artifacts per-row inference needs (qcInferCols)
      val wRow = w.head()
      val wArr = (0 to 5).map(wRow.getDouble).toArray
      val mRow = m.head()
      val mArr = (0 until 5).map(mRow.getDouble).toArray
      val vocabArr = vocab.agg(collect_list(col("token")))
        .head().getSeq[String](0).sorted.toArray
      val p = sigmoid(marginOf(col))
      // the served table is materialized: the features and the
      // weights are spent
      val serve = Ckpt.cut(z.crossJoin(broadcast(w))
        .select(col("doc_id"), col("y"),
          round(p, 6).as("score"),
          when(p >= lit(0.5), 1).otherwise(0).as("pred")), z, w)
      QcModel(serve, wArr, mArr, vocabArr)
    }
  }

  /** Shuffle-free inference (the payoff the I30 distillation buys):
    * (score, pred) as PURE per-row expressions over a `text` column —
    * model weights/means/vocab embedded as literals, so a day-2
    * filter plan carries ZERO classifier-side joins or shuffles.
    * Reproduces the build's served score/pred bit-exactly: identical
    * feature expressions, identical (x−m)·scale centering, identical
    * left-associated margin sum and rational-sigmoid rounding ladder
    * — every op IEEE +,-,*,/ or abs on the same doubles
    * (TextAnalysisSpec pins expression-inference ≡ build serve). */
  private[operators] def qcInferCols(model: QcModel): (Column, Column) = {
    val toks = nonEmptyToks
    val nT = size(toks).cast("double")
    val xs: Seq[Column] = qcFeatureCols.map(_._2) :+
      (size(filter(toks, t =>
        array_contains(lit(model.vocab), t))).cast("double") / nT)
    val zs = xs.zipWithIndex.map { case (x, i) =>
      (x - lit(model.m(i))) * lit(QcScale) }
    val margin = zs.zipWithIndex.foldLeft(lit(model.w(0)): Column) {
      case (acc, (z, i)) => acc + lit(model.w(i + 1)) * z }
    val p = round(lit(0.5) * (lit(1.0) + margin / (lit(1.0) + abs(margin))), 12)
    (round(p, 6), when(p >= lit(0.5), 1).otherwise(0))
  }

  def qualityClassifier(spark: SparkSession, dir: String,
                        epochs: Int = QcEpochs, lr: Double = QcLr,
                        vocabK: Int = QcVocabK): DataFrame =
    qualityClassifierBuild(spark, dir, epochs, lr, vocabK)
      .orderBy(col("doc_id"))

  /** Confusion matrix + metrics over the train slice (H21's eval
    * discipline applied to the classifier's own labels). */
  def qualityClassifierEval(spark: SparkSession, dir: String,
                            epochs: Int = QcEpochs, lr: Double = QcLr,
                            vocabK: Int = QcVocabK): DataFrame = {
    val b = qualityClassifierBuild(spark, dir, epochs, lr, vocabK)
      .filter(col("y").isNotNull)
    b.agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n").cast("double"), 6)
          .as("accuracy"),
        // degenerate guards: Spark div-by-zero yields NULL while
        // DuckDB IEEE float div yields inf/nan — make the NULL
        // explicit on BOTH engine sides (tp=0 with nonzero
        // denominators → precision=recall=0, f1 defined as 0)
        when(col("tp") + col("fp") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(col("tp") + col("fp") === 0 || col("tp") + col("fn") === 0,
            lit(null).cast("double"))
          .when(col("tp") === 0, lit(0.0))
          .otherwise(round(lit(2.0) * (col("tp").cast("double")
              / (col("tp") + col("fp")).cast("double"))
            * (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            / (col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
              + col("tp").cast("double") / (col("tp") + col("fn")).cast("double")),
            6)).as("f1"))
  }

  /** Shared oracle CTE chain: features, label, centering, and the
    * unrolled epoch ladder; `fin` holds per-doc (doc_id, y, score,
    * pred). Every double literal is ::DOUBLE (a bare 0.5 is DECIMAL
    * in DuckDB) and every decimal-sum serve rides the VARCHAR cast. */
  /** The default-parameter CTE chain, exposed for composites whose
    * oracle embeds the trained classifier (P4b in Corpus). */
  private[operators] def qcDefaultCtes: String =
    qcSqlCtes(QcEpochs, QcLr, QcVocabK)

  private def qcSqlCtes(epochs: Int, lr: Double, vocabK: Int): String = {
    val sc = s"${QcScale}::DOUBLE"
    val gsum = (j: Int, e: String) =>
      s"CAST(CAST(SUM(CAST(ROUND($e, 12) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS g$j"
    val steps = (1 to epochs).map { t =>
      s"""g$t AS MATERIALIZED (
         |  SELECT COUNT(*) AS n,
         |    ${gsum(0, "d")},
         |    ${gsum(1, "d*z1")}, ${gsum(2, "d*z2")}, ${gsum(3, "d*z3")},
         |    ${gsum(4, "d*z4")}, ${gsum(5, "d*z5")}
         |  FROM (
         |    SELECT ROUND(0.5::DOUBLE*(1.0::DOUBLE + m/(1.0::DOUBLE + abs(m))), 12) - y AS d,
         |      z1, z2, z3, z4, z5
         |    FROM (
         |      SELECT y, z1, z2, z3, z4, z5,
         |        w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 + w.w4*z4 + w.w5*z5 AS m
         |      FROM ztr CROSS JOIN w${t - 1} w))
         |),
         |w$t AS MATERIALIZED (
         |  SELECT ${(0 to 5).map(j =>
                s"ROUND(w.w$j - ${lr}::DOUBLE*g.g$j/g.n, 12) AS w$j").mkString(", ")}
         |  FROM w${t - 1} w CROSS JOIN g$t g)""".stripMargin
    }.mkString(",\n")
    val msum = (x: String) =>
      s"ROUND(CAST(CAST(SUM(CAST(ROUND($x, 12) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)/COUNT(*), 12) AS m_$x"
    s"""t AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
       |  FROM documents
       |), cnt AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_corpus FROM cnt),
       |vocab AS (SELECT token FROM cnt ORDER BY c DESC, token LIMIT $vocabK),
       |surp AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    ROUND(CAST(CAST(SUM(CAST(ROUND(-ln(CAST(c AS DOUBLE)/n_corpus), 9)
       |        AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE)/COUNT(*), 9) AS s
       |  FROM t JOIN cnt USING (token) CROSS JOIN tot GROUP BY 1
       |), th AS (
       |  SELECT quantile_disc(s, 0.3) AS t30, quantile_disc(s, 0.7) AS t70
       |  FROM surp
       |), vhit AS (
       |  SELECT t.doc_id,
       |    CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS x5
       |  FROM t LEFT JOIN vocab v USING (token) GROUP BY 1
       |), featbase AS (
       |  SELECT doc_id,
       |    least(1.0::DOUBLE,
       |      len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
       |        / 100.0::DOUBLE) AS x1,
       |    len(list_filter(str_split(text, ' '),
       |      x -> x IN (${stopwords.map(s => s"'$s'").mkString(",")})))::DOUBLE
       |      / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE AS x2,
       |    len(list_distinct(list_filter(str_split(text, ' '), x -> x <> '')))::DOUBLE
       |      / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE AS x3,
       |    length(replace(text, ' ', ''))::DOUBLE
       |      / len(list_filter(str_split(text, ' '), x -> x <> ''))::DOUBLE
       |      / 10.0::DOUBLE AS x4
       |  FROM documents
       |), feat AS MATERIALIZED (
       |  SELECT f.doc_id, x1, x2, x3, x4, x5,
       |    CASE WHEN s <= t30 THEN 1 WHEN s >= t70 THEN 0 END AS y
       |  FROM featbase f JOIN vhit USING (doc_id) JOIN surp USING (doc_id)
       |    CROSS JOIN th
       |), m AS (
       |  SELECT ${(1 to 5).map(j => msum(s"x$j")).mkString(", ")}
       |  FROM feat WHERE y IS NOT NULL
       |), z AS MATERIALIZED (
       |  SELECT doc_id, y,
       |    ${(1 to 5).map(j => s"(x$j - m_x$j)*$sc AS z$j").mkString(", ")}
       |  FROM feat CROSS JOIN m
       |), ztr AS (SELECT * FROM z WHERE y IS NOT NULL),
       |w0 AS (SELECT ${(0 to 5).map(j => s"0.0::DOUBLE AS w$j").mkString(", ")}),
       |$steps,
       |fin AS (
       |  SELECT doc_id, y, ROUND(p, 6) AS score,
       |    CASE WHEN p >= 0.5::DOUBLE THEN 1 ELSE 0 END AS pred
       |  FROM (
       |    SELECT doc_id, y,
       |      ROUND(0.5::DOUBLE*(1.0::DOUBLE + m/(1.0::DOUBLE + abs(m))), 12) AS p
       |    FROM (
       |      SELECT doc_id, y,
       |        w.w0 + w.w1*z1 + w.w2*z2 + w.w3*z3 + w.w4*z4 + w.w5*z5 AS m
       |      FROM z CROSS JOIN w$epochs w))
       |)""".stripMargin
  }

  def qualityClassifierSql(epochs: Int = QcEpochs, lr: Double = QcLr,
                           vocabK: Int = QcVocabK): String =
    s"""WITH ${qcSqlCtes(epochs, lr, vocabK)}
       |SELECT doc_id, y, score, pred FROM fin ORDER BY doc_id""".stripMargin

  def qualityClassifierEvalSql(epochs: Int = QcEpochs, lr: Double = QcLr,
                               vocabK: Int = QcVocabK): String =
    s"""WITH ${qcSqlCtes(epochs, lr, vocabK)}
       |SELECT n, tp, fp, fn, tn,
       |  ROUND(CAST(tp + tn AS DOUBLE)/CAST(n AS DOUBLE), 6) AS accuracy,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE ROUND(CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE), 6) END AS precision,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE ROUND(CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE), 6) END AS recall,
       |  CASE WHEN tp + fp = 0 OR tp + fn = 0 THEN NULL
       |    WHEN tp = 0 THEN 0.0::DOUBLE
       |    ELSE ROUND(2.0::DOUBLE
       |      * (CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE))
       |      * (CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE))
       |    / (CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE)
       |      + CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE)), 6) END AS f1
       |FROM (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM fin WHERE y IS NOT NULL)""".stripMargin

  val registry: Seq[(String, Entry)] = Seq(
    "text_quality_classifier" -> Entry((s, d) => qualityClassifier(s, d), qualityClassifierSql(),
      shuffles = 2),
    "param_quality_classifier" -> Entry((s, d) => qualityClassifier(s, d, epochs = 8, lr = 2.0),
      qualityClassifierSql(epochs = 8, lr = 2.0), shuffles = 2),
    "text_quality_classifier_eval" -> Entry((s, d) => qualityClassifierEval(s, d),
      qualityClassifierEvalSql(), shuffles = 2),
    "text_zipf_fit" -> Entry((s, d) => zipfFit(s, d), zipfFitSql(),
      shuffles = 6, // token rollup + TakeOrdered top-K; rank window / fit agg / serve sort are 100-row metadata exchanges
      bnlj = true), // (b) 1-row OLS-fit attach onto the top-K rows
    "param_zipf_fit" -> Entry((s, d) => zipfFit(s, d, topK = 20), zipfFitSql(topK = 20),
      shuffles = 6,
      bnlj = true), // (b) 1-row OLS-fit attach onto the top-K rows
    "text_vocab_growth" -> Entry((s, d) => vocabGrowth(s, d), vocabGrowthSql(),
      shuffles = 6), // type-min rollup + 2 bucket rollups + bucket join + metadata cum window
    "param_vocab_growth" -> Entry((s, d) => vocabGrowth(s, d, bucket = 16L),
      vocabGrowthSql(bucket = 16L), shuffles = 6),
    "text_rake_keywords" -> Entry((s, d) => rakeKeywords(s, d), rakeKeywordsSql(),
      shuffles = 3), // doc-keyed phrase window + phrase/word rollups (vocab-keyed joins broadcast) + TakeOrdered
    "param_rake_keywords" -> Entry((s, d) => rakeKeywords(s, d, limit = 15),
      rakeKeywordsSql(limit = 15), shuffles = 3),
    "text_kneser_ney" -> Entry((s, d) => kneserNey(s, d), kneserNeySql(),
      shuffles = 7, // bigram rollup + ctx/cont marginal rollups + two vocab-keyed attaches + type total + TakeOrdered
      bnlj = true), // (b) 1-row bigram-type-total attach
    "param_kneser_ney" -> Entry((s, d) => kneserNey(s, d, minCount = 5, limit = 30),
      kneserNeySql(minCount = 5, limit = 30), shuffles = 7,
      bnlj = true), // (b) 1-row bigram-type-total attach
    "text_bpe_train" -> Entry(bpeTrain _, bpeTrainSql,
      shuffles = 5, // corpus→vocab agg + one vocab-keyed pair agg per unrolled merge (merge picks are 1-row TakeOrdered broadcasts)
      bnlj = true), // (b) 1-row argmax-merge broadcast per unrolled iteration
    "text_bpe_encode" -> Entry(bpeEncode _, bpeEncodeSql,
      shuffles = 17, // the training fold re-expands per consumer (vocab-sized metadata shuffles, never corpus rows) + token-keyed encode join + doc rollup
      bnlj = true), // (b) same training fold inside; encode join is equi
    "text_tokenizer_eval" -> Entry(tokenizerEval _, tokenizerEvalSql,
      shuffles = 17, // I18's shape with a source rollup instead of the doc rollup
      bnlj = true), // (b) I18's dictionary (same training fold); eval join is equi
    "text_tokenizer_roundtrip" -> Entry(tokenizerRoundtrip _, tokenizerRoundtripSql,
      shuffles = 10, // I15 training fold (8, as text_bpe_encode) + roundtrip dict join + source rollup
      bnlj = true), // (b) same training fold; roundtrip join is equi
    "text_pmi_collocations" -> Entry((s, d) => pmiCollocations(s, d), pmiCollocationsSql(),
      shuffles = 6, // unigram agg + bigram agg + two word-key marginal joins + totals + TakeOrdered
      bnlj = true), // (b) 1-row corpus-totals attach
    "param_pmi_collocations" -> Entry((s, d) => pmiCollocations(s, d, minCount = 10, k = 20),
      pmiCollocationsSql(minCount = 10, k = 20), shuffles = 6,
      bnlj = true), // (b) 1-row corpus-totals attach
    "text_entropy" -> Entry(entropyStats _, entropyStatsSql,
      shuffles = 4), // (doc,unit) agg + doc agg, for chars and for words; the final join reuses the doc partitioning
    "text_bm25_topk" -> Entry((s, d) => bm25TopK(s, d), bm25TopKSql(),
      shuffles = 3, // per-doc agg + 1-row stats agg + fused-list rank
      bnlj = true), // (b) corpus-stats scalar attach
    "param_bm25_topk" -> Entry((s, d) => bm25TopK(s, d, terms = Seq("customer", "window"), k = 5),
      bm25TopKSql(terms = Seq("customer", "window"), k = 5), shuffles = 3,
      bnlj = true), // (b) corpus-stats scalar attach
    "text_perplexity_buckets" -> Entry(perplexityBuckets _, perplexityBucketsSql, shuffles = 4,
      bnlj = true), // (b) one-row broadcast scalar attach
    // r15: +1 model-scale exchange, -1 occurrence-stream shuffle (the
    // bc⋈ctx attach joins at model scale; see text_stupid_backoff)
    "text_bigram_surprisal" -> Entry(bigramSurprisal _, bigramSurprisalSql, shuffles = 6,
      bnlj = true), // (b) vocab-size scalar attach
    // r15: one MORE exchange but strictly fewer shuffled bytes — the
    // pruned model, context totals and unigram marginal pre-join at
    // MODEL scale (two extra model-sized exchanges) so the doc-bigram
    // occurrence stream is shuffled through ONE join instead of two
    "text_stupid_backoff" -> Entry(stupidBackoff _, stupidBackoffSql, shuffles = 6,
      bnlj = true), // (b) corpus-total scalar attach
    "text_bigram_lm" -> Entry(bigramLm _, bigramLmSql, shuffles = 2),
    "text_dsir_weights" -> Entry(dsirWeights _, dsirWeightsSql, shuffles = 5,
      bnlj = true), // (b) one-row broadcast scalar attach
    "text_bpe_pair_stats" -> Entry(bpePairStats _, bpePairStatsSql, shuffles = 1),
    "text_repetition_signals" -> Entry(repetitionSignals _, repetitionSignalsSql, shuffles = 2),
    "text_unigram_surprisal" -> Entry(unigramSurprisal _, unigramSurprisalSql, shuffles = 3,
      bnlj = true), // (b) one-row broadcast scalar attach
    "text_kl_divergence" -> Entry((s, d) => klDivergence(s, d), klDivergenceSql(),
      shuffles = 7, // token rollup (corpus-scale) + 6 vocab/source-keyed metadata rollups/serves
      bnlj = true), // (b) bounded sources × ≤201-category broadcast grid + 1-row totals attach
    "text_js_divergence" -> Entry((s, d) => jsDivergence(s, d), jsDivergenceSql(),
      shuffles = 7, // I21's token rollup (corpus-scale) + vocab/category/source-keyed metadata rollups; pair grid is map-side
      bnlj = true), // (b) bounded source-pairs × categories grid + 1-row n_cats attach
    "text_textrank" -> Entry((s, d) => textrank(s, d), textrankSql(), shuffles = 2),
    "param_textrank" -> Entry((s, d) => textrank(s, d, iters = 3, limit = 20),
      textrankSql(iters = 3, limit = 20), shuffles = 2),
    // small vocab exercises <oov>
    "param_js_divergence" -> Entry((s, d) => jsDivergence(s, d, vocabK = 10),
      jsDivergenceSql(vocabK = 10), shuffles = 7,
      bnlj = true), // (b) bounded source-pairs × categories grid + 1-row n_cats attach
    "text_lexical_diversity" -> Entry(lexicalDiversity _, lexicalDiversitySql,
      shuffles = 4), // token rollup + source window + rollup + sort
    "text_langid_trained" -> Entry(langIdTrained _, langIdTrainedSql,
      shuffles = 13, // doc-scale: docBg/score/argmax/matrix rollups; rest are bounded model-side (lb/types/totals) metadata exchanges
      bnlj = true), // (b) bounded langs × charset² model grid + 1-row type-count attach
    "param_kl_divergence" -> Entry((s, d) => klDivergence(s, d, vocabK = 50),
      klDivergenceSql(vocabK = 50),
      shuffles = 7, // same plan shape, smaller vocab
      bnlj = true), // (b) bounded sources × ≤201-category broadcast grid + 1-row totals attach
    "text_tfidf_top_terms" -> Entry(tfidfTopTerms _, tfidfTopTermsSql, shuffles = 5,
      bnlj = true), // (b) one-row broadcast scalar attach
    "text_lang_id" -> Entry(langId _, langIdSql, shuffles = 0),
    "text_quality_score" -> Entry(qualityScore _, qualityScoreSql, shuffles = 0),
    "text_quality_calibrate" -> Entry((s, d) => qualityCalibrate(s, d), qualityCalibrateSql(),
      shuffles = 2),
    "text_distinctive_terms" -> Entry((s, d) => distinctiveTerms(s, d), distinctiveTermsSql(),
      shuffles = 2,
      bnlj = true), // (b) 1-row corpus-totals attach
    "param_distinctive_terms" -> Entry((s, d) =>
      distinctiveTerms(s, d, srcA = "src2", srcB = "src3", alpha0 = 50.0),
      distinctiveTermsSql(srcA = "src2", srcB = "src3", alpha0 = 50.0), shuffles = 2,
      bnlj = true), // (b) 1-row corpus-totals attach
    "param_quality_calibrate" -> Entry((s, d) => qualityCalibrate(s, d, nBuckets = 4),
      qualityCalibrateSql(nBuckets = 4), shuffles = 2),
    "text_token_count" -> Entry(tokenCount _, tokenCountSql, shuffles = 0),
    "text_rolling_fingerprint" -> Entry(rollingFingerprint _, rollingFingerprintSql, shuffles = 0))
}
