package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Order-dependent corpus shaping: token-budget mixing and sequence
  * packing — the two training-data operations whose DEFINITION is a
  * running sum over an ordered document stream (fill a per-language token
  * budget; concatenate-and-chunk docs into fixed-length training
  * sequences, the standard LLM pre-tokenization layout).
  *
  * A naive implementation is one `Window` over the whole corpus (or the
  * whole language) — a SINGLE task holding every row: the canonical
  * non-distributed window mistake, dead at 100 TB. Both operators here
  * compute the identical result with a two-phase distributed prefix sum:
  *
  *   1. bucket the stream by a coarse, order-compatible key (hash bucket
  *      for mixing, `doc_id div width` ranges for packing);
  *   2. aggregate per-bucket token totals (map-side combine; the shuffle
  *      carries one row per bucket), then cumulative-sum the TOTALS over
  *      the tiny bucket frame — ≤ nBuckets·nLangs rows for mixing,
  *      maxId/width rows for packing (for corpora where even that frame
  *      is large, recurse the same trick one level up — noted, not
  *      needed at this fleet size);
  *   3. re-join each doc with its bucket's exclusive prefix and finish
  *      with an intra-bucket window PARTITIONED BY BUCKET — parallelism
  *      = number of buckets, no task ever holds more than one bucket.
  *
  * The DuckDB oracles intentionally compute the naive single-window form:
  * the two-phase decomposition is exactly prefix-associativity, so a
  * hash-green result IS the proof that the distributed plan equals the
  * sequential definition.
  */
object Packing {

  /** Tokens per doc — whitespace tokenization shared with the quality
    * gate; NULL text counts 0 (explicitly, so budget arithmetic and
    * chunk offsets never go NULL mid-stream).
    */
  private def nTokens: Column =
    coalesce(size(TextAnalytics.tokens(col("text"))), lit(0)).as("n_tokens")

  /** Exclusive per-bucket prefix within `partCols` (empty = global):
    * input (partCols..., bucket, bsum), output + `bprefix`. The window
    * runs over the BUCKET TOTALS frame only — for the global case that
    * is a deliberate single small partition (step 2 above), never the
    * data itself.
    */
  private def withBucketPrefix(bucketTotals: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val w = (if (partCols.isEmpty) Window.orderBy("bucket")
             else Window.partitionBy(partCols.map(col): _*).orderBy("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketTotals.withColumn("bprefix", coalesce(sum("bsum").over(w), lit(0L)))
  }

  /** Registered per-language budgets for q_token_budget_mix — cut inside
    * every language at every test SF (per-lang totals are ~4-12k tokens
    * at sf0.001), so the boundary logic is always exercised.
    */
  val DefaultBudgets: Map[String, Long] =
    Map("en" -> 2000L, "de" -> 2000L, "es" -> 2000L, "fr" -> 2000L, "zh" -> 2000L)

  /** Registered-query defaults, interpolated into the DuckDB oracles
    * below (as [[MixMultiplier]] and [[duckBudgetCase]] already are) so a
    * caller changing a default cannot silently desynchronize operator and
    * oracle.
    */
  val DefaultNBuckets = 1000
  val DefaultSeqLen = 2048
  val DefaultBucketWidth = 4096

  /** Bucket multiplier — a third Carter-Wegman-style constant (xxHash
    * PRIME32_3), distinct from the split (2654435761) and sampling
    * (2246822519) multipliers for the same decorrelation reason
    * documented at [[TextAnalytics.stratifiedSample]]: budget selection
    * must compose independently with splitting and sampling. 31-bit fold
    * first keeps the product under 2⁶³ (ANSI-safe, repo-wide rule).
    */
  private val MixMultiplier = 3266489917L

  /** Deterministic token-budget fill per language (data-mixing stage):
    * within each lang, docs are ordered by (hash bucket, doc_id) — a
    * reproducible pseudo-random stream — and kept while the inclusive
    * running token sum stays within `budgets(lang)`. Unbudgeted
    * languages drop entirely. Pure function of (doc_id, lang, text): the
    * kept set is stable across runs, partitionings, and engines.
    *
    * Distributed form: bucket classification via the tiny totals frame —
    * a bucket is kept whole when `bprefix + bsum <= budget` (NO window
    * touches its rows), dropped whole when `bprefix > budget`, and only
    * the ≤ 1-per-lang boundary bucket pays the intra-bucket window
    * (≈ 1/nBuckets of that language). The `>` on the drop edge matters:
    * a zero-token doc sitting exactly at `bprefix = budget` is kept by
    * the naive rule (cum = budget), so it must route to the boundary
    * window, not the drop branch.
    */
  def tokenBudgetMix(spark: SparkSession, dir: String,
      budgets: Map[String, Long] = DefaultBudgets,
      nBuckets: Int = DefaultNBuckets): DataFrame = {
    val budgetCol = budgets.foldLeft(lit(0L)) {
      case (acc, (lang, b)) => when(col("lang") === lang, b).otherwise(acc)
    }
    // three consumers (bucket totals, whole-bucket keep, boundary walk)
    // read this frame; the checkpoint tokenizes once and holds only the
    // slim derived columns — without it each consumer re-ran the corpus
    // scan + split (measured: 4 scans; the Dedup.shingledFrom lesson)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTokens,
        pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(MixMultiplier),
          lit(nBuckets.toLong)).as("bucket"))
      .transform(Materialize(_))
    val totals = base.groupBy("lang", "bucket")
      .agg(sum("n_tokens").as("bsum"))
    val classified = withBucketPrefix(totals, Seq("lang"))
      .withColumn("budget", budgetCol)
      .select("lang", "bucket", "bsum", "bprefix", "budget")
    // ≤ nBuckets·nLangs rows — broadcast back onto the corpus (no shuffle
    // of the data for the classification join)
    val tagged = base.join(broadcast(classified), Seq("lang", "bucket"))
    val keptWhole = tagged.filter(col("bprefix") + col("bsum") <= col("budget"))
    val boundary = tagged
      .filter(col("bprefix") + col("bsum") > col("budget") &&
        col("bprefix") <= col("budget"))
      .withColumn("cum", sum("n_tokens").over(
        Window.partitionBy("lang", "bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("bprefix") + col("cum") <= col("budget"))
    keptWhole.select("doc_id", "lang", "n_tokens")
      .union(boundary.select("doc_id", "lang", "n_tokens"))
      .orderBy("doc_id")
  }

  /** Sequence packing (concat-then-chunk): conceptually concatenate every
    * doc's tokens in doc_id order and cut the stream into fixed `seqLen`
    * training sequences; report each doc's token offset and the first and
    * last sequence it lands in (`crosses` marks boundary-straddling docs,
    * the ones an attention mask must handle). Buckets are `doc_id div
    * bucketWidth` ranges — order-compatible with the stream by
    * construction (ids need not be dense; gaps just leave buckets
    * absent). The bucket-prefix join is NOT broadcast-hinted: the totals
    * frame grows as maxId/bucketWidth, so AQE decides (broadcast while it
    * fits, slim shuffle join beyond).
    *
    * Zero-token docs (NULL text) occupy an empty span: seq_last is
    * clamped to seq_first via greatest() — which also keeps the engines
    * aligned on the one reachable `cum = 0` corner, where DuckDB's
    * floor-division `(cum-1)//L` and Spark's truncating `div` disagree
    * about -1.
    */
  def packSequences(spark: SparkSession, dir: String,
      seqLen: Int = DefaultSeqLen, bucketWidth: Int = DefaultBucketWidth): DataFrame = {
    // two consumers (bucket totals + the prefix join): tokenize once
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), nTokens,
        expr(s"doc_id div $bucketWidth").as("bucket"))
      .transform(Materialize(_))
    val totals = base.groupBy("bucket").agg(sum("n_tokens").as("bsum"))
    val pref = withBucketPrefix(totals, Seq.empty).select("bucket", "bprefix")
    base.join(pref, "bucket")
      .withColumn("cum", col("bprefix") + sum("n_tokens").over(
        Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("start_off", col("cum") - col("n_tokens"))
      .withColumn("seq_first", expr(s"start_off div $seqLen"))
      .withColumn("seq_last",
        greatest(col("seq_first"), expr(s"(cum - 1) div $seqLen")))
      .withColumn("crosses", (col("seq_last") > col("seq_first")).cast("int"))
      .select("doc_id", "n_tokens", "start_off", "seq_first", "seq_last", "crosses")
      .orderBy("doc_id")
  }

  /** Packing-efficiency rollup — the number a pipeline owner actually
    * watches when choosing seqLen: docs and tokens in, boundary-crossing
    * docs (attention-mask work), sequences out, and overall fill ratio
    * `total / (n_seqs · seqLen)`. `n_seqs = ceil(total / seqLen)` is
    * computed from the total, not `max(seq_last)`, so a trailing
    * zero-token doc sitting exactly on a boundary cannot mint a phantom
    * empty sequence.
    */
  def packingStats(spark: SparkSession, dir: String,
      seqLen: Int = DefaultSeqLen, bucketWidth: Int = DefaultBucketWidth): DataFrame = {
    import graft.functions.PortableRound
    packSequences(spark, dir, seqLen, bucketWidth)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("crosses").cast("long").as("n_crossing"))
      .withColumn("n_seqs", expr(s"(total_tokens + $seqLen - 1) div $seqLen"))
      .withColumn("fill_ratio", PortableRound.r(
        col("total_tokens").cast("double") / (col("n_seqs") * seqLen), 4))
  }

  private def duckBudgetCase: String =
    "CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 2000 WHEN 'es' THEN 2000 " +
      "WHEN 'fr' THEN 2000 WHEN 'zh' THEN 2000 ELSE 0 END"

  /** DuckDB twin of the packing token count (NULL text counts 0). */
  private def duckTokenCount: String = "coalesce(len(string_split(text, ' ')), 0)"

  /** [[packSequences]]' layout as the DuckDB CTE `c`: per doc in doc_id
    * order, its token count, start offset, first and last sequence and
    * whether it crosses a sequence boundary.
    */
  private def duckPackCte: String =
    s"""c AS (
       |  SELECT doc_id, n_tokens, cum - n_tokens AS start_off,
       |         (cum - n_tokens) // $DefaultSeqLen AS seq_first,
       |         greatest((cum - n_tokens) // $DefaultSeqLen, (cum - 1) // $DefaultSeqLen) AS seq_last,
       |         CAST(greatest((cum - n_tokens) // $DefaultSeqLen, (cum - 1) // $DefaultSeqLen)
       |              > (cum - n_tokens) // $DefaultSeqLen AS INT) AS crosses
       |  FROM (SELECT doc_id, $duckTokenCount AS n_tokens,
       |               CAST(sum($duckTokenCount) OVER (ORDER BY doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM documents))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $duckTokenCount AS n_tokens,
         |         (${TextAnalytics.duckIdFold} * $MixMultiplier) % $DefaultNBuckets AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY bucket, doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, lang, n_tokens FROM c
         |WHERE cum <= $duckBudgetCase
         |ORDER BY doc_id""".stripMargin,
    "q_packing_stats" ->
      s"""WITH $duckPackCte,
         |a AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |         CAST(sum(crosses) AS BIGINT) AS n_crossing
         |  FROM c)
         |SELECT n_docs, total_tokens, n_crossing,
         |       (total_tokens + $DefaultSeqLen - 1) // $DefaultSeqLen AS n_seqs,
         |       floor(CAST(total_tokens AS DOUBLE)
         |             / (((total_tokens + $DefaultSeqLen - 1) // $DefaultSeqLen) * $DefaultSeqLen)
         |             * 10000 + 0.5) / 10000.0 AS fill_ratio
         |FROM a""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH $duckPackCte
        |SELECT doc_id, n_tokens, start_off, seq_first, seq_last, crosses
        |FROM c ORDER BY doc_id""".stripMargin
  )
}
