package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Reference-LM perplexity bucketing — the CCNet recipe (Wenzek et al.
  * 2020): score every document by a language model trained on a clean
  * reference corpus, then split each language into head / middle / tail
  * perplexity terciles; downstream mixing samples head-heavy. The "LM"
  * here is the hashed-unigram model this engine already speaks
  * ([[Dsir]]'s feature space — same portable token hash, same bucket
  * constants, same demo reference selector), which keeps the whole
  * operator oracle-checkable; a real deployment swaps in KenLM scores
  * through the identical bucketing tail.
  *
  * Portability: per-bucket negative log-probs are quantized to integer
  * micros ([[Retrieval]] contract) so per-document sums are exact in any
  * order; the per-doc average rounds via the floor(x + 0.5) form; the
  * tercile thresholds use exact `percentile`, already proven bit-equal
  * to DuckDB's `quantile_cont` (q_value_percentiles), with the 0.33/0.67
  * literals spelled identically on both engines.
  *
  * Scale shape: the bucket arrays come from [[Dsir.bucketed]]'s
  * checkpointed scan (tokenize+hash once); the reference distribution is
  * an nBuckets-row broadcast; per-doc scores are one slim integer-sum
  * shuffle. The tercile thresholds are a per-lang aggregate over the
  * scores (nLangs rows, broadcast back) — the scores frame is
  * checkpointed because the threshold pass and the labeling join both
  * consume it. Exact percentile materializes each lang's scores in one
  * task at the threshold step; [[perplexityBucketsApprox]] is the
  * registered sketch twin for that pinch (the
  * [[EventAnalytics.valuePercentilesApprox]] trade) — the labeling tail
  * is shared, only the threshold aggregate differs.
  */
object Perplexity {

  /** Tercile boundaries, pre-spelled for both engines ([[Retrieval.K1]]
    * discipline — never compute 1.0/3).
    */
  val HeadQ = "0.33"
  val MiddleQ = "0.67"

  /** Greenwald–Khanna accuracy for the registered approx-threshold
    * forms. Rank error ≤ 1/accuracy: 2000 bounds a tercile threshold to
    * ±0.05 percentile points — two decimal orders tighter than the
    * head/middle/tail decision needs. Measured (min-of-2, r8 triage):
    * the r7 "sketch ~2.8× the exact form" finding does NOT reproduce —
    * it was once-timed scaled-run noise. At sf0.1: acc 2000 = 0.86 s vs
    * acc 10000 = 1.31 s vs exact 0.89 s; at the 10× replication:
    * 3.31 / 3.44 / 3.44 s — the shared scorer dominates and the sketch
    * at 2000 is at parity with exact while staying bounded-memory per
    * language (the 100 TB reason it exists). The tie-bound lockstep
    * spec is the label-drift canary for any accuracy change.
    */
  val DefaultApproxAccuracy = 2000

  /** Per-document reference-LM scores:
    * (doc_id, lang, n_tokens, avg_nlp_micros) — average per-token
    * negative log-prob under the smoothed reference unigram model, in
    * integer micros (lower = more reference-like).
    */
  /** The trained reference model as a broadcastable frame:
    * (bucket, nlp_micros) for every bucket the static corpus occupies —
    * reference misses carry pure smoothing mass — plus a sentinel row at
    * bucket −1 (pmod buckets are never negative) holding the
    * unseen-bucket score, so a STREAMING consumer can score buckets this
    * corpus never produced ([[graft.streaming.StreamingFeatures
    * .perplexityGateStream]]).
    */
  def referenceNlp(spark: SparkSession, dir: String,
      nBuckets: Int = Dsir.DefaultNBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame =
    referenceNlpFrom(Dsir.bucketed(spark, dir, nBuckets), nBuckets, refModulus)

  private def referenceNlpFrom(b: DataFrame, nBuckets: Int,
      refModulus: Int): DataFrame = {
    val ref = b.filter(pmod(col("doc_id"), lit(refModulus.toLong)) === 0)
      .select(explode(col("buckets")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val support = b.select(explode(col("buckets")).as("bucket")).distinct()
    // coalesce mirrors the oracle's tot CTE: an empty reference yields
    // the all-smoothing-mass model, not NULL scores
    val total = ref.agg(coalesce(sum(col("n")), lit(0L)).as("t"))
    val halfNB = nBuckets / 2.0
    def nlpOf(n: Column, t: Column): Column =
      floor(-log((n + lit(0.5)) / (t + lit(halfNB)))
        * lit(1000000L) + lit(0.5)).cast("long")
    support.join(ref, Seq("bucket"), "left")
      .crossJoin(broadcast(total))
      .select(col("bucket"), nlpOf(coalesce(col("n"), lit(0L)), col("t")).as("nlp_micros"))
      .unionAll(total.select(lit(-1L).as("bucket"), nlpOf(lit(0L), col("t")).as("nlp_micros")))
  }

  /** Per-document reference-LM scores:
    * (doc_id, lang, n_tokens, avg_nlp_micros).
    */
  def perplexityScores(spark: SparkSession, dir: String,
      nBuckets: Int = Dsir.DefaultNBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame =
    scoresFrom(Dsir.bucketed(spark, dir, nBuckets), nBuckets, refModulus)

  /** Shared scorer over any (doc_id, lang, buckets) frame: train the
    * smoothed reference model on the modulus-selected docs, score every
    * doc by its average per-item negative log-prob. ONE bucketed
    * checkpoint feeds both the model and the scorer; the sentinel row
    * never equi-matches a real (non-negative) bucket. Docs with an
    * EMPTY bucket array (no items to score) are absent from the output
    * — both engines drop them at the explode/unnest, by construction.
    */
  private def scoresFrom(b: DataFrame, nBuckets: Int,
      refModulus: Int): DataFrame = {
    val nlp = broadcast(referenceNlpFrom(b, nBuckets, refModulus))
    b.select(col("doc_id"), col("lang"), size(col("buckets")).as("n_tokens"),
        explode(col("buckets")).as("bucket"))
      .join(nlp, "bucket")
      .groupBy("doc_id", "lang", "n_tokens")
      .agg(sum(col("nlp_micros")).as("s"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("s").cast("double") / col("n_tokens") + lit(0.5))
          .cast("long").as("avg_nlp_micros"))
  }

  /** Bigram-bucket space for the order-2 model: sparser than unigrams,
    * so wider than [[Dsir.DefaultNBuckets]]; the oracle interpolates
    * THIS constant.
    */
  val DefaultBigramBuckets = 256

  /** Order-2 (bigram) reference-LM scores — the word-ORDER sensitivity
    * the hashed-unigram model cannot have: two docs with identical token
    * multisets score identically under order 1, but a doc whose token
    * ORDER leaves the reference's bigram support (e.g. a shuffled
    * rewrite) scores strictly worse here (spec-pinned). Each adjacent
    * token pair hashes through the SAME portable fold ([[Dsir.bucketOf]]
    * over `concat_ws(" ", tᵢ, tᵢ₊₁)`), so the whole operator stays
    * oracle-checkable; the model/scorer tail is shared with the unigram
    * form verbatim. n_tokens in the output counts BIGRAMS (the items
    * averaged over); docs with fewer than 2 tokens have none and are
    * absent (see [[scoresFrom]]).
    */
  /** Pair combiner for the order-2 bucket hash — the same multiplier
    * [[TextAnalytics]]'s winnow gram hash combines token hashes with
    * (1000003, CPython's tuple-hash prime), mod 2³¹ like every fold in
    * the portable family. Structural in the oracle.
    */
  val BigramCombiner = 1000003L

  /** Bigram bucket array of a text column — shared by the batch scorer
    * and the streaming gate (one formula, the [[Dsir.bucketOf]]
    * discipline). Docs with fewer than 2 tokens (and NULL text, which
    * yields NULL) carry an EMPTY array.
    *
    * Round-14 rebase: the bucket is a [[BigramCombiner]] PAIR-COMBINE
    * over per-token portable folds, not a fold over the concatenated
    * bigram string. Two reasons, both measured in the factor-30 probe
    * (q_perplexity_bigram 70.5 s vs its unigram sibling's 2.8 s):
    * (1) each token's characters now fold ONCE, not once per bigram it
    * appears in; (2) the old form's `element_at(w, i + 1)` captured the
    * `split` array inside the per-bigram lambda, and Spark re-evaluates
    * a captured expression tree PER ELEMENT — O(tokens²) tokenize work
    * per document (the repo's known HOF pitfall). `zip_with` binds both
    * hash slices as lambda ARGUMENTS, so nothing is captured and the
    * token-hash transform evaluates a constant number of times per ROW.
    * Overflow-safe under ANSI: h < 2³¹ ⇒ h·1000003 + h < 2⁵², and the
    * combined value < 2³¹ keeps the [[Dsir.BucketMultiplier]] product
    * below 2⁶³ (the same bound [[Dsir.bucketOf]] documents).
    */
  private[graft] def bigramBuckets(text: Column, nBuckets: Int): Column = {
    val th = transform(split(text, " "),
      t => graft.functions.TextHashes.portableFoldCol(t))
    when(size(th) >= 2,
      zip_with(
        slice(th, lit(1), size(th) - 1), slice(th, lit(2), size(th) - 1),
        (a, b) => pmod(
          pmod(a * lit(BigramCombiner) + b, lit(2147483648L))
            * lit(Dsir.BucketMultiplier),
          lit(nBuckets.toLong))))
      .otherwise(array().cast("array<long>"))
  }

  private def bigramBucketed(spark: SparkSession, dir: String,
      nBuckets: Int): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        bigramBuckets(col("text"), nBuckets).as("buckets"))
      .transform(Materialize(_)) // model pass + scorer pass

  /** The trained order-2 reference model as a broadcastable frame —
    * [[referenceNlp]] over bigram buckets, sentinel row included: the
    * static side of the streaming gate's bigram form.
    */
  def referenceNlpBigram(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBigramBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame =
    referenceNlpFrom(bigramBucketed(spark, dir, nBuckets), nBuckets, refModulus)

  def perplexityScoresBigram(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBigramBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame =
    scoresFrom(bigramBucketed(spark, dir, nBuckets), nBuckets, refModulus)

  /** CCNet terciles over the order-2 scores — [[perplexityBuckets]] with
    * the bigram scorer, same exact-percentile thresholds and labeling
    * tail.
    */
  def perplexityBucketsBigram(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBigramBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame = {
    val scores = perplexityScoresBigram(spark, dir, nBuckets, refModulus)
      .transform(Materialize(_)) // threshold pass + labeling join
    labeled(scores, exactThresholds(scores))
  }

  /** [[perplexityBucketsBigram]] with sketch thresholds — the registered
    * 100 TB form of the order-2 model, exactly as
    * [[perplexityBucketsApprox]] twins the unigram form: the scorer and
    * the [[labeled]] tail are shared verbatim, only the per-lang
    * threshold aggregate swaps exact `percentile` (one task holding a
    * language's full score set) for Greenwald–Khanna. Rows-only; the
    * lockstep spec pins the divergence to threshold-tied docs moving one
    * tercile head-ward, for BOTH model orders.
    */
  def perplexityBucketsBigramApprox(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBigramBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus,
      accuracy: Int = DefaultApproxAccuracy): DataFrame = {
    val scores = perplexityScoresBigram(spark, dir, nBuckets, refModulus)
      .transform(Materialize(_)) // threshold pass + labeling join
    labeled(scores, approxThresholds(scores, accuracy))
  }

  /** CCNet head/middle/tail labels per language:
    * (doc_id, lang, n_tokens, avg_nlp_micros, ppl_bucket). head = the
    * most reference-like tercile. Docs at a threshold land on the
    * head-ward side (`<=`, both engines).
    */
  def perplexityBuckets(spark: SparkSession, dir: String,
      nBuckets: Int = Dsir.DefaultNBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus): DataFrame = {
    val scores = perplexityScores(spark, dir, nBuckets, refModulus)
      .transform(Materialize(_)) // threshold pass + labeling join
    labeled(scores, exactThresholds(scores))
  }

  /** Exact per-lang tercile thresholds — one aggregation task holds a
    * language's full score set (the pinch the approx forms exist to
    * clear; fine at test SF, a few giant tasks at corpus scale).
    */
  private def exactThresholds(scores: DataFrame): DataFrame =
    broadcast(scores.groupBy("lang").agg(
      percentile(col("avg_nlp_micros"), lit(HeadQ.toDouble)).as("p_head"),
      percentile(col("avg_nlp_micros"), lit(MiddleQ.toDouble)).as("p_middle")))

  /** Greenwald–Khanna per-lang thresholds — bounded memory per language
    * at rank error ≤ 1/accuracy; shared by both approx forms.
    */
  private def approxThresholds(scores: DataFrame, accuracy: Int): DataFrame =
    broadcast(scores.groupBy("lang")
      .agg(percentile_approx(col("avg_nlp_micros"),
        array(lit(HeadQ.toDouble), lit(MiddleQ.toDouble)), lit(accuracy)).as("ps"))
      .select(col("lang"),
        element_at(col("ps"), 1).as("p_head"),
        element_at(col("ps"), 2).as("p_middle")))

  /** [[perplexityBuckets]] with `percentile_approx` thresholds — the
    * registered 100 TB form: exact `percentile` materializes each
    * language's full score set in ONE aggregation task (a few dominant
    * languages at corpus scale = a few giant tasks), while
    * Greenwald–Khanna keeps bounded memory per language at rank error
    * ≤ 1/accuracy. Thresholds land ON an observed score (no
    * interpolation), so docs whose score ties a threshold move one
    * tercile head-ward vs the exact form — the labeling tail is the
    * shared [[labeled]]. Rows-only (sketch internals are
    * engine-specific); the spec pins lockstep with the exact form
    * everywhere EXCEPT those threshold ties, which it bounds and
    * verifies individually.
    */
  def perplexityBucketsApprox(spark: SparkSession, dir: String,
      nBuckets: Int = Dsir.DefaultNBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus,
      accuracy: Int = DefaultApproxAccuracy): DataFrame = {
    val scores = perplexityScores(spark, dir, nBuckets, refModulus)
      .transform(Materialize(_)) // threshold pass + labeling join
    labeled(scores, approxThresholds(scores, accuracy))
  }

  /** Guarantee attestation shared by the two approx-threshold forms
    * (r17 verdict ask #5): the GK threshold internals are rows-only by
    * design, but the guarantee — each per-lang threshold is a data
    * point whose RANK among that language's scores sits within the
    * declared band of its target quantile — is oracle-expressible.
    * One row per lang: (n_docs, head_ok, middle_ok), ok = the
    * tie-robust two-sided rank test of
    * [[EventAnalytics.valuePercentilesApproxGuarantee]] at
    * ε = 1/accuracy with cushion max(2, 0.03·n). The oracle reuses the
    * exact form's proven score CTE and emits constant-true flags, so a
    * violated rank bound hash-mismatches.
    */
  private def approxGuaranteeFrom(scores0: DataFrame,
      accuracy: Int): DataFrame = {
    val scores = Materialize(scores0)
    val th = approxThresholds(scores, accuracy)
    val eps = 1.0 / accuracy
    val counted = scores.join(th, "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("avg_nlp_micros") < col("p_head"), 1L).otherwise(0L)).as("lt_h"),
        sum(when(col("avg_nlp_micros") <= col("p_head"), 1L).otherwise(0L)).as("le_h"),
        sum(when(col("avg_nlp_micros") < col("p_middle"), 1L).otherwise(0L)).as("lt_m"),
        sum(when(col("avg_nlp_micros") <= col("p_middle"), 1L).otherwise(0L)).as("le_m"))
    val n = col("n_docs").cast("double")
    val cushion = greatest(lit(2.0), lit(0.03) * n)
    def ok(q: Double, lt: String, le: String): Column =
      when(col(lt).cast("double") <= (lit(q) + eps) * n + cushion &&
           col(le).cast("double") >= (lit(q) - eps) * n - cushion, lit(1L))
        .otherwise(lit(0L))
    counted.select(col("lang"), col("n_docs"),
        ok(HeadQ.toDouble, "lt_h", "le_h").as("head_ok"),
        ok(MiddleQ.toDouble, "lt_m", "le_m").as("middle_ok"))
      .orderBy("lang")
  }

  /** [[perplexityBucketsApprox]]'s guarantee attestation — see
    * [[approxGuaranteeFrom]].
    */
  def perplexityBucketsApproxGuarantee(spark: SparkSession, dir: String,
      nBuckets: Int = Dsir.DefaultNBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus,
      accuracy: Int = DefaultApproxAccuracy): DataFrame =
    approxGuaranteeFrom(
      perplexityScores(spark, dir, nBuckets, refModulus), accuracy)

  /** [[perplexityBucketsBigramApprox]]'s guarantee attestation — see
    * [[approxGuaranteeFrom]].
    */
  def perplexityBigramApproxGuarantee(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultBigramBuckets,
      refModulus: Int = Dsir.DefaultTargetModulus,
      accuracy: Int = DefaultApproxAccuracy): DataFrame =
    approxGuaranteeFrom(
      perplexityScoresBigram(spark, dir, nBuckets, refModulus), accuracy)

  /** Shared labeling tail: scores × per-lang thresholds → tercile label.
    * Docs at a threshold land on the head-ward side (`<=`, both engines).
    */
  private def labeled(scores: DataFrame, th: DataFrame): DataFrame =
    scores.join(th, "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_nlp_micros"),
        when(col("avg_nlp_micros") <= col("p_head"), "head")
          .when(col("avg_nlp_micros") <= col("p_middle"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")

  /** The model→score→tercile CTE chain over any `docs` CTE producing
    * (doc_id, lang, buckets) — shared by the unigram and bigram oracles
    * so the two cannot desynchronize.
    */
  private def duckPerplexitySql(docsCte: String, nB: Int): String = {
    val halfNB = nB / 2.0
    s"""WITH docs AS (
       |$docsCte),
       |tok AS (SELECT doc_id, unnest(buckets) AS bucket FROM docs),
       |ref AS (
       |  SELECT bucket, count(*) AS n FROM tok
       |  WHERE ((doc_id % ${Dsir.DefaultTargetModulus})
       |         + ${Dsir.DefaultTargetModulus})
       |        % ${Dsir.DefaultTargetModulus} = 0
       |  GROUP BY bucket),
       |support AS (SELECT DISTINCT bucket FROM tok),
       |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM ref),
       |nlp AS (
       |  SELECT support.bucket,
       |         CAST(floor(-ln((coalesce(ref.n, 0) + 0.5) / (t + $halfNB))
       |                    * 1000000 + 0.5) AS BIGINT) AS nlp_micros
       |  FROM support LEFT JOIN ref USING (bucket), tot),
       |scored AS (
       |  SELECT doc_id, lang, CAST(len(buckets) AS INT) AS n_tokens,
       |         unnest(buckets) AS bucket
       |  FROM docs),
       |per AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(nlp_micros) AS BIGINT) AS s
       |  FROM scored JOIN nlp USING (bucket)
       |  GROUP BY doc_id, lang, n_tokens),
       |sc AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(floor(CAST(s AS DOUBLE) / n_tokens + 0.5) AS BIGINT)
       |           AS avg_nlp_micros
       |  FROM per),
       |th AS (
       |  SELECT lang,
       |         quantile_cont(avg_nlp_micros, $HeadQ) AS p_head,
       |         quantile_cont(avg_nlp_micros, $MiddleQ) AS p_middle
       |  FROM sc GROUP BY lang)
       |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.avg_nlp_micros,
       |       CASE WHEN avg_nlp_micros <= p_head THEN 'head'
       |            WHEN avg_nlp_micros <= p_middle THEN 'middle'
       |            ELSE 'tail' END AS ppl_bucket
       |FROM sc JOIN th USING (lang)
       |ORDER BY sc.doc_id""".stripMargin
  }

  private val UnigramOracle: String = duckPerplexitySql(
    s"""  SELECT doc_id, lang,
       |         list_transform(string_split(text, ' '),
       |           t -> ${Dsir.duckBucket("t", Dsir.DefaultNBuckets)}) AS buckets
       |  FROM documents""".stripMargin,
    Dsir.DefaultNBuckets)

  private val BigramOracle: String = duckPerplexitySql(
    s"""  SELECT doc_id, lang,
       |         list_transform(range(1, len(th)),
       |           i -> ((th[i] * $BigramCombiner + th[i+1]) % 2147483648
       |                 * ${Dsir.BucketMultiplier}) % $DefaultBigramBuckets) AS buckets
       |  FROM (SELECT doc_id, lang,
       |          list_transform(string_split(text, ' '),
       |            t -> ${graft.functions.TextHashes.duckFold("t")}) AS th
       |        FROM documents)
       |  WHERE len(th) >= 2""".stripMargin,
    DefaultBigramBuckets)

  /** Guarantee-attestation oracle: per-lang doc counts from the exact
    * form's PROVEN score chain (reused verbatim as a subquery — the
    * two cannot desynchronize) with constant-true rank flags.
    */
  private def guaranteeOracle(exact: String): String =
    s"""SELECT lang, count(*) AS n_docs,
       |       CAST(1 AS BIGINT) AS head_ok, CAST(1 AS BIGINT) AS middle_ok
       |FROM ($exact) GROUP BY lang ORDER BY lang""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_perplexity_buckets" -> UnigramOracle,
    "q_perplexity_bigram" -> BigramOracle,
    "q_perplexity_buckets_approx_guarantee" -> guaranteeOracle(UnigramOracle),
    "q_perplexity_bigram_approx_guarantee" -> guaranteeOracle(BigramOracle)
  )

}
