package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** DSIR-style importance weighting — score every corpus document by how
  * much it looks like a target (reference) distribution, using hashed
  * unigram features (public recipe: Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling": hashed n-gram bag features,
  * per-bucket log-likelihood ratio between target and raw distributions,
  * per-document sum).
  *
  * Portability: the token hash is a base-31 polynomial over byte-folded
  * codepoints mod 2³¹ — a fold both engines express exactly (Spark
  * `aggregate`, DuckDB `list_reduce`), integer all the way. The only
  * transcendental, the per-bucket log-ratio, is quantized to integer
  * micros immediately ([[Retrieval]] contract), so per-document weights
  * are INTEGER sums — exact in any aggregation order. The smoothed
  * ratio itself is a mirrored IEEE chain over integer inputs.
  *
  * Scale shape: one pass computes per-doc bucket arrays scan-side (the
  * expensive map work — tokenize + hash); a lazy checkpoint holds
  * the DERIVED arrays (never text) because two consumers read them —
  * the bucket-distribution aggregate and the per-doc scorer (the
  * [[Decontam.sharedShingles]] / [[Dedup.ngramJaccardPairs]] discipline).
  * The distribution frame is nBuckets rows (driver-tiny at any corpus
  * size) and broadcasts back; the only data-sized exchange carries
  * (doc_id, integer partial sums) with map-side combine.
  */
object Dsir {

  val DefaultNBuckets = 64

  /** Demo target selector: docs with doc_id ≡ 0 (mod 5) play the
    * reference corpus so DuckDB can reproduce the registration — the
    * same demo-vs-real split as [[Decontam.contamination]] (modulus
    * deliberately ≠ Decontam's 20: the "benchmark" and the "reference
    * corpus" should not be the same docs in the demo suite either).
    * [[importanceWeightsAgainst]] is the real shape: any target corpus
    * DataFrame.
    */
  val DefaultTargetModulus = 5

  /** 6th decorrelated multiplier (Fibonacci prime 2971215073), applied
    * to the polynomial hash before the bucket modulus — low-order
    * polynomial bits alone correlate with short-token structure.
    */
  val BucketMultiplier = 2971215073L

  /** Base-31 polynomial codepoint hash of one token, bucketed: both the
    * per-char fold and the final multiply stay in multiplication-safe
    * range (h < 2³¹, h·BucketMultiplier < 2⁶³ — the repo-wide ANSI
    * overflow rule). The fold is the native codegen'd
    * [[graft.functions.TextHashes.PortableFold]] (value-identical to
    * the column algebra, TextHashesSpec-pinned).
    */
  private[graft] def bucketOf(token: Column, nBuckets: Int): Column =
    pmod(
      graft.functions.TextHashes.portableFoldCol(token) * lit(BucketMultiplier),
      lit(nBuckets.toLong))

  /** Per-doc hashed-unigram bucket arrays — the shared scan both phases
    * consume; checkpointed lazily so tokenize+hash runs once (see object
    * scaladoc).
    */
  private[operators] def bucketed(spark: SparkSession, dir: String, nBuckets: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        transform(split(col("text"), " "), t => bucketOf(t, nBuckets))
          .as("buckets"))
      .transform(Materialize(_))

  /** Per-document importance weights against an arbitrary target-corpus
    * frame (`doc_id`, `text`): (doc_id, lang, n_tokens, weight_micros).
    * weight_micros = Σ_tokens lr_micros(bucket(token)), where lr is the
    * Laplace-smoothed per-bucket log-likelihood ratio
    * ln(p_target(b) / p_raw(b)). Positive ⇒ target-like.
    */
  def importanceWeightsAgainst(spark: SparkSession, dir: String,
      targetDocs: DataFrame, nBuckets: Int = DefaultNBuckets): DataFrame = {
    val target = targetDocs
      .select(explode(transform(split(col("text"), " "),
        t => bucketOf(t, nBuckets))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_t"))
    score(bucketed(spark, dir, nBuckets), target, nBuckets)
  }

  /** Oracle-checkable demo registration: target = modulus-selected docs. */
  def importanceWeights(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultNBuckets,
      targetModulus: Int = DefaultTargetModulus): DataFrame = {
    val b = bucketed(spark, dir, nBuckets)
    val target = b.filter(pmod(col("doc_id"), lit(targetModulus.toLong)) === 0)
      .select(explode(col("buckets")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_t"))
    score(b, target, nBuckets)
  }

  /** The trained log-ratio model as a broadcastable frame:
    * (bucket, lr_micros) for every bucket the raw corpus occupies, plus
    * a sentinel row at bucket −1 (pmod buckets are never negative)
    * carrying the pure-smoothing-mass ratio ln((tr+h)/(tt+h)) for
    * buckets this corpus never produced — the [[Perplexity.referenceNlp]]
    * device, so a STREAMING consumer
    * ([[graft.streaming.StreamingFeatures.dsirGateStream]]) can score
    * any incoming token. Demo target = the modulus-selected docs, as
    * the registered query.
    */
  def logRatios(spark: SparkSession, dir: String,
      nBuckets: Int = DefaultNBuckets,
      targetModulus: Int = DefaultTargetModulus): DataFrame = {
    val b = bucketed(spark, dir, nBuckets)
    val target = b.filter(pmod(col("doc_id"), lit(targetModulus.toLong)) === 0)
      .select(explode(col("buckets")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_t"))
    lrTable(b, target, nBuckets)
  }

  /** Smoothed log-ratio table over the raw support + the −1 sentinel
    * (see [[logRatios]]) — shared by the batch scorer (whose equi-join
    * can never match the sentinel) and the streaming model export.
    */
  private def lrTable(b: DataFrame, target: DataFrame, nBuckets: Int): DataFrame = {
    val raw = b.select(explode(col("buckets")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_r"))

    // buckets the target never hits still need smoothing mass: left join
    // from RAW (every bucket a corpus token can score against) and
    // coalesce the target count. Totals are computed per SIDE before the
    // join so an external target whose buckets miss the raw support still
    // normalizes by its full token count.
    val halfNB = nBuckets / 2.0 // 0.5·nBuckets, pre-spelled like 0.25 in BM25
    val counts = raw.join(target, Seq("bucket"), "left")
      .select(col("bucket"), col("n_r"), coalesce(col("n_t"), lit(0L)).as("n_t"))
    // coalesce: an EMPTY external target frame must yield the all-
    // smoothing-mass model (every lr from pure pseudo-counts), not NULLs
    val totals = target.agg(coalesce(sum(col("n_t")), lit(0L)).as("tt"))
      .crossJoin(raw.agg(coalesce(sum(col("n_r")), lit(0L)).as("tr")))
    def lrOf(nt: Column, tt: Column, nr: Column, tr: Column): Column =
      floor(log(((nt + lit(0.5)) / (tt + lit(halfNB)))
        / ((nr + lit(0.5)) / (tr + lit(halfNB))))
        * lit(1000000L) + lit(0.5)).cast("long")
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        lrOf(col("n_t"), col("tt"), col("n_r"), col("tr")).as("lr_micros"))
      .unionAll(totals.select(lit(-1L).as("bucket"),
        lrOf(lit(0L), col("tt"), lit(0L), col("tr")).as("lr_micros")))
  }

  /** Registered-sample defaults — interpolated into the oracle (repo
    * convention). k = 100 keeps the demo selective (500-doc sf0.01
    * corpus → a 20% draw); the multiplier is xxhash32 prime 3266489917,
    * deliberately distinct from the split (2654435761) and
    * stratified-rate (2246822519) doc-id multipliers so the three
    * deterministic draws decorrelate.
    */
  val DefaultSampleK = 100
  val DefaultSampleSeed = 0L
  val GumbelMultiplier = 3266489917L

  /** The "R" of DSIR — importance RESAMPLING (Xie et al. 2023 §2: draw
    * the training subset with probability ∝ importance weight), via the
    * Gumbel-top-k device (Vieira 2014; Kool et al. 2019): adding i.i.d.
    * Gumbel(0,1) noise to each document's LOG-weight and keeping the
    * top k is an exact sample WITHOUT replacement ∝ the weights. The
    * pieces compose exactly here because [[importanceWeights]] already
    * RETURNS log-space integer micros: key = weight_micros +
    * gumbel_micros is an exact int64 sum, and the sample is the k
    * largest keys.
    *
    * Determinism + portability: the "noise" is a seeded doc-id hash —
    * u = (fold31(doc_id + seed)·GumbelMultiplier mod 2³¹ + 0.5) / 2³¹
    * ∈ (0,1) strictly (the +0.5 / power-of-two division is exact IEEE,
    * identical in any engine), then the Gumbel quantile
    * −ln(−ln u) quantized to integer micros with the repo's
    * floor(x·10⁶ + 0.5) device — the same per-term nano-quantization
    * contract that makes the weights themselves oracle-checkable (the
    * two ln calls are the only transcendentals, and a 1-ulp libm
    * disagreement flips a micro-floor with probability ~1e-9/doc).
    *
    * Scale shape: the weights pipeline unchanged (one scan + one
    * bucket-key exchange), then the hash/Gumbel columns are pure
    * map-side arithmetic and the k-row answer is a
    * TakeOrderedAndProject (O2 — partial top-k per partition, k rows
    * to the driver; no global sort, no extra shuffle). Re-draws are a
    * seed bump; stratified draws compose by running per-stratum ks.
    */
  def dsirSample(spark: SparkSession, dir: String,
      k: Int = DefaultSampleK,
      nBuckets: Int = DefaultNBuckets,
      targetModulus: Int = DefaultTargetModulus,
      seed: Long = DefaultSampleSeed): DataFrame = {
    require(seed >= 0, "seed must be non-negative (sign-safe pmod twin)")
    val fold = pmod(pmod(col("doc_id"), lit(2147483648L)) + lit(seed),
      lit(2147483648L))
    val h = pmod(fold * lit(GumbelMultiplier), lit(2147483648L))
    val u = (h.cast("double") + lit(0.5)) / lit(2147483648.0)
    importanceWeights(spark, dir, nBuckets, targetModulus)
      .withColumn("gumbel_micros",
        floor(-log(-log(u)) * lit(1000000L) + lit(0.5)).cast("long"))
      .withColumn("key_micros", col("weight_micros") + col("gumbel_micros"))
      .orderBy(col("key_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Shared tail: the log-ratio table (nBuckets+1 rows, broadcast), then
    * the per-doc integer sum.
    */
  private def score(b: DataFrame, target: DataFrame, nBuckets: Int): DataFrame = {
    val lr = broadcast(lrTable(b, target, nBuckets))
    b.select(col("doc_id"), col("lang"), size(col("buckets")).as("n_tokens"),
        explode(col("buckets")).as("bucket"))
      .join(lr, "bucket") // the −1 sentinel never equi-matches
      .groupBy("doc_id", "lang", "n_tokens")
      .agg(sum(col("lr_micros")).as("weight_micros"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bucketOf]]: the portable fold
    * ([[graft.functions.TextHashes.duckFold]]), same constants.
    */
  private[operators] def duckBucket(tokenExpr: String, nBuckets: Int): String =
    s"(${graft.functions.TextHashes.duckFold(tokenExpr)} * $BucketMultiplier) % $nBuckets"

  /** The weights pipeline as a CTE chain ending in `weights` — shared by
    * the q_dsir_weights oracle and the q_dsir_sample oracle so the two
    * cannot desynchronize. Registered defaults are structural.
    */
  private def duckWeightCtes: String = {
    val nB = DefaultNBuckets
    val halfNB = nB / 2.0
    s"""docs AS (
       |  SELECT doc_id, lang,
       |         list_transform(string_split(text, ' '),
       |           t -> ${duckBucket("t", nB)}) AS buckets
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(buckets) AS bucket FROM docs),
       |bc AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN ((doc_id % $DefaultTargetModulus)
       |                             + $DefaultTargetModulus)
       |                            % $DefaultTargetModulus = 0
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |         count(*) AS n_r
       |  FROM tok GROUP BY bucket),
       |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS tt,
       |               CAST(sum(n_r) AS BIGINT) AS tr FROM bc),
       |lr AS (
       |  SELECT bucket,
       |         CAST(floor(ln(((n_t + 0.5) / (tt + $halfNB))
       |                       / ((n_r + 0.5) / (tr + $halfNB)))
       |                    * 1000000 + 0.5) AS BIGINT) AS lr_micros
       |  FROM bc, tot),
       |scored AS (
       |  SELECT doc_id, lang, CAST(len(buckets) AS INT) AS n_tokens,
       |         unnest(buckets) AS bucket
       |  FROM docs),
       |weights AS (
       |  SELECT s.doc_id, s.lang, s.n_tokens,
       |         CAST(sum(lr.lr_micros) AS BIGINT) AS weight_micros
       |  FROM scored s JOIN lr USING (bucket)
       |  GROUP BY s.doc_id, s.lang, s.n_tokens)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_dsir_weights" ->
      s"""WITH $duckWeightCtes
         |SELECT doc_id, lang, n_tokens, weight_micros
         |FROM weights ORDER BY doc_id""".stripMargin,
    // Gumbel-top-k resample: u from the seeded doc-id hash twin, the
    // Gumbel quantile −ln(−ln u) micro-quantized per term, top k keys
    "q_dsir_sample" ->
      s"""WITH $duckWeightCtes,
         |g AS (
         |  SELECT *,
         |         CAST(floor(-ln(-ln(
         |           (((${graft.operators.TextAnalytics.duckIdFold}
         |              + $DefaultSampleSeed) % 2147483648
         |             * $GumbelMultiplier) % 2147483648 + 0.5)
         |           / 2147483648)) * 1000000 + 0.5) AS BIGINT)
         |           AS gumbel_micros
         |  FROM weights)
         |SELECT doc_id, lang, n_tokens, weight_micros, gumbel_micros,
         |       weight_micros + gumbel_micros AS key_micros
         |FROM g
         |ORDER BY key_micros DESC, doc_id LIMIT $DefaultSampleK""".stripMargin
  )
}
