package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.PortableRound

/** Benchmark decontamination — the training-data hygiene pass that flags
  * corpus documents overlapping an evaluation/benchmark set (public
  * recipe: the 13-gram collision checks of GPT-3 appendix C / Dodge et
  * al. 2021 C4 analysis; word-n-gram form here, n configurable).
  *
  * Two entry points with deliberately different join hints:
  *   - [[contaminationAgainst]] takes the REAL shape — an external
  *     benchmark n-gram DataFrame. An eval suite is tiny (~10⁶ n-grams ≈
  *     tens of MB) while the corpus is 100 TB, so that side is hard
  *     broadcast and the corpus probes it SCAN-SIDE — corpus n-grams are
  *     exploded map-side and never shuffled.
  *   - [[contamination]] is the oracle-checkable demo registration: the
  *     benchmark is modeled as the documents with `doc_id % benchModulus
  *     = 0`, so DuckDB can reproduce it. That side is ~1/benchModulus of
  *     CORPUS shingles — it grows linearly with data, so it carries NO
  *     broadcast hint (the repo rule: never hint a data-proportional join
  *     side; AQE broadcasts while it fits and falls back to a shuffle
  *     join beyond — at which point the real pipeline would be using the
  *     external-benchmark form anyway).
  *
  * In both forms the only data-sized exchanges carry (doc_id, count)
  * pairs after map-side partial aggregation, plus the slim (doc_id, lang,
  * n_ngrams) metadata join — the text column never leaves the scan.
  * Joining on the n-gram STRING (not a 64-bit digest) costs nothing here
  * — the strings live only in the benchmark table and the scan stage — so
  * the overlap counts are exact, with no hash collision caveat to carry.
  */
object Decontam {

  /** Registered-query defaults. The DuckDB oracle below interpolates
    * THESE constants (modulus, minFrac) so operator and oracle cannot
    * desynchronize; n = 3 is additionally structural in the oracle's
    * `w[i], w[i+1], w[i+2]` concat — change [[DefaultN]] and the oracle
    * shingle expression must change with it (spec-pinned).
    */
  val DefaultN = 3
  val DefaultBenchModulus = 20
  val DefaultMinFrac = 0.1

  /** Per-document contamination against an arbitrary benchmark n-gram
    * frame (`shingle: string`, one row per n-gram; duplicates tolerated —
    * distinct'd here). The benchmark side is the documented tiny side and
    * is hard broadcast. Documents shorter than n words carry zero n-grams
    * and a 0.0 fraction — explicitly, not NULL, so downstream
    * `contaminated = 0` filters keep them.
    */
  def contaminationAgainst(spark: SparkSession, dir: String,
      benchNgrams: DataFrame, n: Int = DefaultN,
      minFrac: Double = DefaultMinFrac): DataFrame = {
    val sh = sharedShingles(spark, dir, n)
    report(spark, dir, sh,
      broadcast(benchNgrams.select(col("shingle")).distinct()), minFrac)
  }

  /** Oracle-checkable demo form: benchmark = the modulus-selected docs'
    * distinct n-grams. Benchmark members themselves score frac = 1.0 by
    * construction (every n-gram self-overlaps) — the natural sanity
    * signal. No broadcast hint on the benchmark side — see the object
    * scaladoc.
    */
  def contamination(spark: SparkSession, dir: String, n: Int = DefaultN,
      benchModulus: Int = DefaultBenchModulus,
      minFrac: Double = DefaultMinFrac): DataFrame = {
    val sh = sharedShingles(spark, dir, n)
    report(spark, dir, sh, modulusBench(sh, benchModulus), minFrac)
  }

  /** Benchmark n-gram set for the modulus demo form: distinct shingles of
    * the modulus-selected docs. The distinct() is a shuffle of BENCHMARK
    * n-grams only. Shared with [[Curation.curateDocsFull]].
    */
  private[operators] def modulusBench(sh: DataFrame, benchModulus: Int): DataFrame =
    sh.filter(pmod(col("doc_id"), lit(benchModulus)) === 0)
      .select(explode(col("shingles")).as("shingle"))
      .distinct()

  /** Per-doc overlap scores for the docs present in `sh` (each carries
    * >= 1 n-gram by construction): (doc_id, n_ngrams, n_overlap,
    * overlap_frac) with the 4-dp portable rounding the oracle mirrors.
    */
  private def scored(sh: DataFrame, bench: DataFrame): DataFrame = {
    // corpus probe: explode scan-side, join the benchmark set, then count
    // matches per doc (map-side combine; shuffle = matches only)
    val overlap = sh
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(bench, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    sh.select(col("doc_id"), size(col("shingles")).as("n_ngrams"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        PortableRound.r(col("n_overlap").cast("double") / col("n_ngrams"), 4))
  }

  /** (doc_id, contaminated) for the docs present in `sh` — the composable
    * form [[Curation.curateDocsFull]] joins into its decision chain (docs
    * absent from `sh` carry zero n-grams: callers coalesce to 0).
    */
  private[operators] def contaminatedFlags(sh: DataFrame, bench: DataFrame,
      minFrac: Double): DataFrame =
    scored(sh, bench).select(col("doc_id"),
      (col("overlap_frac") >= minFrac).cast("int").as("contaminated"))

  /** The shingle frame feeds three consumers (benchmark distinct in the
    * modulus form, the exploded probe, the per-doc size projection); a
    * lazy [[graft.Materialize]] checkpoint computes the expensive
    * split+transform+distinct map work ONCE — the exact discipline (and
    * rationale comment) of [[Dedup.ngramJaccardPairs]]. Without it
    * q_decontam was the suite's slowest query: three full-corpus
    * tokenization passes.
    */
  private def sharedShingles(spark: SparkSession, dir: String, n: Int): DataFrame =
    Materialize(Dedup.shingled(spark, dir, n))

  /** Shared tail: per-doc scores, metadata join, report columns. Docs with
    * fewer than n words (absent from `sh`) carry explicit zeros.
    */
  private def report(spark: SparkSession, dir: String, sh: DataFrame,
      bench: DataFrame, minFrac: Double): DataFrame =
    reportTail(spark, dir, scored(sh, bench), minFrac)

  /** Metadata join + zero-fill over any (doc_id, n_ngrams, n_overlap,
    * overlap_frac) score frame — shared by the exact and Bloom paths so
    * the report shape cannot desynchronize.
    */
  private def reportTail(spark: SparkSession, dir: String,
      scores: DataFrame, minFrac: Double): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_ngrams"), lit(0)).cast("int").as("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("overlap_frac"), lit(0.0)).as("overlap_frac"))
      .withColumn("contaminated", (col("overlap_frac") >= minFrac).cast("int"))
      .orderBy("doc_id")

  /** Registered Bloom defaults: 2²⁰ bits (128 KB, ~10 bits/gram at the
    * sf benchmark sizes) and the matching k = 7 ≈ (bits/n)·ln 2.
    */
  val DefaultBloomBits: Long = 1L << 20
  val DefaultBloomK = 7

  /** Dense Bloom bitset of a 64-bit digest frame (first column), as ONE
    * row with `bloom: array<bigint>` — built entirely in DataFrame
    * algebra, no driver-side collect:
    *   1. k probe positions per digest, scan-side (native
    *      [[graft.functions.BloomFunctions.BloomPositions64]]);
    *   2. (word-index, bit) pairs, `bit_or`-combined per word — the only
    *      shuffle, ≤ numBits/64 rows of 16 bytes after map-side partial
    *      aggregation (NOT digest-proportional);
    *   3. the sparse (word-index, word) pairs placed into the dense
    *      array in ONE pass on the one-row collapse (native
    *      [[graft.functions.BloomFunctions.DenseBitset64]]; missing
    *      word = 0) — O(sparse + numWords), scale-independent of the
    *      digest count. (The first cut assembled per slot with
    *      `try_element_at` over a map — a linear scan per slot in
    *      Catalyst, O(numWords²) total: a measured ~17 s fixed cost at
    *      the 2²⁰ registered sizing and hours at 2²⁷. Gone.)
    * The single row materializes numBits/8 bytes — the broadcast payload
    * itself — so `numBits` is bounded by the broadcast budget (2²⁷ bits
    * = 16 MB covers a ~10⁷-gram benchmark at 13 bits/gram, FP < 1e-3);
    * a set too large for THAT wants the shuffle-join decontam, not a
    * sketch. An empty digest frame yields the all-zero filter (total:
    * probes simply never match).
    */
  def bloomFrom(digests: DataFrame, numBits: Long = DefaultBloomBits,
      k: Int = DefaultBloomK): DataFrame = {
    import graft.functions.BloomFunctions
    val numWords = ((numBits + 63) >> 6).toInt
    digests
      .select(explode(BloomFunctions.bloomPositionsCol(
        col(digests.columns.head), numBits, k)).as("pos"))
      .select(expr("pos div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("word"))
      .agg(collect_list(struct(col("w"), col("word"))).as("pairs"))
      .select(BloomFunctions.denseBitsetCol(col("pairs"), numWords).as("bloom"))
  }

  /** Bloom-filter decontamination — the scale path for when the
    * benchmark n-gram set outgrows the exact broadcast: a composite
    * eval suite at 13-gram granularity runs ~10⁷–10⁸ distinct grams,
    * and the exact string set broadcasts ~50+ bytes/gram where the
    * Bloom bitset spends ~10 BITS/gram (~40× lighter) at a chosen
    * false-positive rate (1 − e^(−kn/m))^k. The error is one-sided in
    * the SAFE direction for decontamination: a false positive only
    * over-counts overlap (flagging at worst an extra clean doc), while
    * false negatives are impossible by construction — every benchmark
    * gram's digest sets exactly the bits the probe reads (one static
    * formula both sides, spec-pinned), and a digest collision between
    * distinct grams only adds hits. Probe cost is O(k) per corpus gram
    * with early exit (~1 probe expected on clean grams), against the
    * exact path's hash-join probe into a set 40× the cache footprint.
    *
    * Same report shape as [[contamination]]; `n_overlap` counts
    * bloom-hit distinct grams, so it can exceed the exact count by the
    * FP margin (the fixture spec pins exact ⊆ bloom per doc and a
    * zero-FP margin at the registered sizing on the sf corpus).
    * Oracle-checked since round 13: digests are the portable
    * [[graft.functions.TextHashes.fingerprint62]] (two int64-safe
    * folds), and the fmix64+KM position family — though it wraps
    * int64 — is exactly replayable in DuckDB HUGEINT arithmetic
    * (split-multiply mod 2⁶⁴; positions reduce mod numBits directly
    * because the registered numBits is a power of two, which divides
    * 2⁶⁴). The oracle reproduces every probe decision bit-for-bit,
    * INCLUDING false positives, so the hash compare is exact — not a
    * "close enough" sketch check.
    */
  def bloomContamination(spark: SparkSession, dir: String, n: Int = DefaultN,
      benchModulus: Int = DefaultBenchModulus, minFrac: Double = DefaultMinFrac,
      numBits: Long = DefaultBloomBits, k: Int = DefaultBloomK): DataFrame = {
    val sh = sharedShingles(spark, dir, n)
    reportTail(spark, dir,
      bloomScored(sh, bloomFrom(benchmarkDigestsFrom(sh, benchModulus),
        numBits, k), numBits, k), minFrac)
  }

  /** [[bloomContamination]] re-derived through a DISK round-trip of the
    * filter — the registered face of the "build the benchmark filter
    * nightly, probe it from every run" shape: build, persist via
    * [[Artifacts.saveBloom]], load via the stamped [[Artifacts
    * .loadBloom]], probe with the loader's returned sizing. Shares
    * q_decontam_bloom's oracle verbatim: the word array is integer
    * parquet, so the round trip must reproduce every probe decision —
    * false positives included — or the hash breaks. The artifact lands
    * in a fresh per-call temp directory (the query IS the round trip,
    * not a cache).
    */
  def bloomContaminationFrozen(spark: SparkSession, dir: String,
      n: Int = DefaultN, benchModulus: Int = DefaultBenchModulus,
      minFrac: Double = DefaultMinFrac,
      numBits: Long = DefaultBloomBits, k: Int = DefaultBloomK): DataFrame = {
    val sh = sharedShingles(spark, dir, n)
    // fresh directory per call — the loaded frame's parquet scan is
    // lazy, so a shared fixed path would let a later save swap the
    // filter under an earlier plan (see Similarity.ivfAssignmentFrozen);
    // Artifacts.scratchDir reaps it at JVM exit (r14 advice)
    val path = Artifacts.scratchDir("graft_bloom_frozen") + "/f"
    Artifacts.saveBloom(
      bloomFrom(benchmarkDigestsFrom(sh, benchModulus), numBits, k),
      path, numBits, k)
    val (bloom, nb, kk) = Artifacts.loadBloom(spark, path)
    reportTail(spark, dir, bloomScored(sh, bloom, nb, kk), minFrac)
  }

  /** The modulus-selected benchmark's distinct gram digests (`gh`) —
    * the build side of the Bloom path, factored out so the bench's
    * assembly-cost probe times [[bloomFrom]] over the EXACT frame the
    * registered query builds from. Digest BEFORE distinct (unlike
    * [[modulusBench]]): the benchmark dedup shuffle carries 8-byte
    * digests, never gram strings — and the whole Bloom path keeps
    * strings scan-side end to end (plan-spec-pinned). bit_or is
    * idempotent, so the distinct is a work reduction, not a
    * correctness need.
    */
  private[graft] def benchmarkDigests(spark: SparkSession, dir: String,
      n: Int = DefaultN, benchModulus: Int = DefaultBenchModulus): DataFrame =
    benchmarkDigestsFrom(sharedShingles(spark, dir, n), benchModulus)

  private def benchmarkDigestsFrom(sh: DataFrame, benchModulus: Int): DataFrame =
    sh.filter(pmod(col("doc_id"), lit(benchModulus)) === 0)
      .select(explode(col("shingles")).as("shingle"))
      .select(graft.functions.TextHashes.fingerprint62(col("shingle")).as("gh"))
      .distinct()

  /** [[bloomContamination]] against an external benchmark n-gram frame
    * (`shingle: string`) — the production form. The benchmark is
    * digested scan-side and folded into the bitset by [[bloomFrom]];
    * nothing benchmark-sized is ever broadcast, only the fixed-size
    * filter row.
    */
  def bloomContaminationAgainst(spark: SparkSession, dir: String,
      benchNgrams: DataFrame, n: Int = DefaultN,
      minFrac: Double = DefaultMinFrac,
      numBits: Long = DefaultBloomBits, k: Int = DefaultBloomK): DataFrame = {
    val sh = sharedShingles(spark, dir, n)
    val bloom = bloomFrom(
      benchNgrams.select(
        graft.functions.TextHashes.fingerprint62(col("shingle")).as("gh"))
        .distinct(),
      numBits, k)
    reportTail(spark, dir, bloomScored(sh, bloom, numBits, k), minFrac)
  }

  /** Bloom twin of [[scored]]: corpus grams digest + probe the filter
    * scan-side (one broadcast row; the filter predicate runs inside the
    * scan stage's codegen), so the only data-sized exchange is the
    * map-side-combined (doc_id, count) aggregation — identical exchange
    * profile to the exact path, minus the benchmark join.
    */
  private def bloomScored(sh: DataFrame, bloom: DataFrame,
      numBits: Long, k: Int): DataFrame = {
    import graft.functions.BloomFunctions
    val overlap = sh
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .crossJoin(broadcast(bloom))
      .filter(BloomFunctions.bloomContainsCol(
        col("bloom"),
        graft.functions.TextHashes.fingerprint62(col("shingle")), numBits, k))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    sh.select(col("doc_id"), size(col("shingles")).as("n_ngrams"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        PortableRound.r(col("n_overlap").cast("double") / col("n_ngrams"), 4))
  }

  /** Fuzzy (near-match) decontamination — the leak the exact n-gram
    * check misses: a benchmark item lightly rewritten into the corpus
    * (reordered clauses, a word swapped) shares few exact 13-grams but
    * nearly all shingles. MinHash-LSH the corpus against the benchmark:
    * a corpus doc colliding with any benchmark doc in an LSH band, with
    * signature agreement ≥ `minAgree` (agreement estimates Jaccard),
    * flags `fuzzy_contaminated` (public recipe: Broder resemblance +
    * banded LSH, the same construction as [[Dedup.minhashLshPairs]],
    * pointed across corpora instead of within one).
    *
    * Two entry points with the SAME hint discipline as the exact check:
    *   - [[fuzzyContaminationAgainst]] takes the REAL shape — an external
    *     benchmark document frame. Its banded signature frame is
    *     eval-suite-sized and hard broadcast; corpus signatures compute
    *     scan-side (one pass, k running minima in registers); the join
    *     emits only band collisions, and the per-doc verdict aggregates
    *     to one row per collided doc before the final left join back
    *     onto the corpus.
    *   - [[fuzzyContamination]] is the demo registration: the benchmark
    *     is the modulus-selected docs (as [[contamination]]) — 1/modulus
    *     of the CORPUS, data-proportional, so it carries NO broadcast
    *     hint (the repo rule: never hint a data-proportional side; AQE
    *     broadcasts while it fits). Members flag themselves at agree
    *     1.0 — the sanity signal.
    *
    * Oracle-checked since round 13 (portable shingle folds — the
    * [[Dedup.minhashSignaturesFrom]] discipline); the fixture spec
    * still pins a planted one-word-edit leak, a clean doc, and the
    * self-match.
    */
  def fuzzyContamination(spark: SparkSession, dir: String,
      benchModulus: Int = DefaultBenchModulus, n: Int = DefaultN,
      bands: Int = Dedup.MinhashBands, rows: Int = Dedup.MinhashRows,
      minAgree: Double = Dedup.MinhashMinAgree): DataFrame = {
    val k = bands * rows
    val sig = Dedup.minhashSignaturesFrom(sharedShingles(spark, dir, n), k)
      .transform(Materialize(_)) // corpus side + benchmark side
    val bench = bandedSig(sig.filter(
      pmod(col("doc_id"), lit(benchModulus.toLong)) === 0), bands, rows)
    fuzzyReport(spark, dir, bandedSig(sig, bands, rows), bench, k, minAgree)
  }

  /** Fuzzy decontamination against an external benchmark document frame
    * (`doc_id`, `text`) — the production form: the benchmark side is
    * shingled + signed with the SAME formula as the corpus (a tokenizer
    * change cannot desynchronize the sides) and hard broadcast, the
    * documented eval-suite-sized asymmetry.
    */
  def fuzzyContaminationAgainst(spark: SparkSession, dir: String,
      benchDocs: DataFrame, n: Int = DefaultN,
      bands: Int = Dedup.MinhashBands, rows: Int = Dedup.MinhashRows,
      minAgree: Double = Dedup.MinhashMinAgree): DataFrame = {
    val k = bands * rows
    val benchSig = Dedup.minhashSignaturesFrom(
      Dedup.shingledFrom(
        benchDocs.select(col("doc_id"), lit("").as("lang"), col("text")), n), k)
    val corpusSig = Dedup.minhashSignaturesFrom(sharedShingles(spark, dir, n), k)
    fuzzyReport(spark, dir, bandedSig(corpusSig, bands, rows),
      broadcast(bandedSig(benchSig, bands, rows)), k, minAgree)
  }

  /** One (doc_id, sig, bk) row per LSH band of a signature frame. */
  private def bandedSig(s: DataFrame, bands: Int, rows: Int): DataFrame = {
    val k = bands * rows
    s.select(col("doc_id"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"),
      explode(array(Dedup.bandKeys(bands, rows): _*)).as("bk"))
  }

  /** Shared tail of both fuzzy forms: band-collision join, signature
    * agreement, per-doc best match, corpus metadata left join.
    */
  private def fuzzyReport(spark: SparkSession, dir: String,
      corpus: DataFrame, bench: DataFrame, k: Int, minAgree: Double): DataFrame = {
    val hits = corpus.as("c")
      .join(bench.as("b"), col("c.bk") === col("b.bk"))
      .select(col("c.doc_id").as("doc_id"), col("b.doc_id").as("bench_id"),
        col("c.sig").as("sig_c"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_id", "bench_id")
      .withColumn("agree",
        expr(s"size(filter(zip_with(sig_c, sig_b, (x, y) -> x = y), v -> v)) / cast($k as double)"))
      .filter(col("agree") >= minAgree)
      .groupBy("doc_id").agg(max(col("agree")).as("best_agree"))

    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("best_agree"), lit(0.0)).as("best_agree"),
        col("best_agree").isNotNull.cast("int").as("fuzzy_contaminated"))
      .orderBy("doc_id")
  }

  /** The shingle → benchmark → overlap CTE chain (w, sh, bench, ex, ov)
    * over a (doc_id, lang, text) relation — shared by the q_decontam
    * oracle and [[Curation]]'s full-pipeline oracle so the two cannot
    * desynchronize. Interpolates the registered-query constants; n = 3 is
    * structural in the `w[i], w[i+1], w[i+2]` concat.
    */
  private[operators] def duckContamCtes(relation: String): String =
    s"""w AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM $relation),
       |sh AS (
       |  SELECT doc_id, lang,
       |         list_distinct(list_transform(range(1, len(w) - 1),
       |           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
       |  FROM w WHERE len(w) >= $DefaultN),
       |bench AS (
       |  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
       |  WHERE ((doc_id % $DefaultBenchModulus) + $DefaultBenchModulus) % $DefaultBenchModulus = 0),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |ov AS (
       |  SELECT doc_id, count(*) AS n_overlap
       |  FROM ex JOIN bench USING (shingle) GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of the rounded overlap fraction (sh/ov scope). */
  private[operators] def duckFracExpr: String =
    "floor(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) " +
      "/ len(sh.shingles) * 10000 + 0.5) / 10000.0"

  val oracles: Map[String, String] = Map(
    // the frozen form re-derives the SAME report through a disk
    // round-trip of the filter (save -> stamped load -> probe), so it
    // shares the oracle verbatim — a lossy write or stale load breaks
    // the hash, FPs included
    "q_decontam_bloom_frozen" -> decontamBloomSql,
    "q_decontam_bloom" -> decontamBloomSql) ++ moreOracles

  private lazy val decontamBloomSql: String = {
      import graft.functions.{BloomFunctions, TextHashes}
      val frac = "floor(CAST(coalesce(bov.n_overlap, 0) AS DOUBLE) " +
        "/ len(sh.shingles) * 10000 + 0.5) / 10000.0"
      s"""WITH ${duckContamCtes("documents")},
        |grams AS (SELECT DISTINCT shingle FROM ex),
        |gd AS MATERIALIZED (
        |  SELECT shingle, ${TextHashes.duckFingerprint62("shingle")} AS v
        |  FROM grams),
        |dg AS (SELECT DISTINCT v FROM gd),
        |${BloomFunctions.duckPositionCtes("dg", DefaultBloomBits, DefaultBloomK)},
        |bd AS (SELECT DISTINCT gd.v FROM gd JOIN bench USING (shingle)),
        |setbits AS MATERIALIZED (
        |  SELECT DISTINCT pos FROM bfpos JOIN bd USING (v)),
        |mem AS (
        |  SELECT p.v FROM bfpos p LEFT JOIN setbits s USING (pos)
        |  GROUP BY p.v HAVING count(s.pos) = $DefaultBloomK),
        |mg AS (SELECT shingle FROM gd JOIN mem USING (v)),
        |bov AS (
        |  SELECT doc_id, count(*) AS n_overlap
        |  FROM ex JOIN mg USING (shingle) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |       CAST(coalesce(len(sh.shingles), 0) AS INT) AS n_ngrams,
        |       CAST(coalesce(bov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |       CASE WHEN coalesce(len(sh.shingles), 0) > 0
        |            THEN $frac
        |            ELSE 0.0 END AS overlap_frac,
        |       CAST(CASE WHEN coalesce(len(sh.shingles), 0) > 0
        |                  AND $frac >= $DefaultMinFrac
        |            THEN 1 ELSE 0 END AS INT) AS contaminated
        |FROM documents d
        |LEFT JOIN sh USING (doc_id)
        |LEFT JOIN bov USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
  }

  private lazy val moreOracles: Map[String, String] = Map(
    "q_fuzzy_decontam" -> {
      val k = Dedup.MinhashBands * Dedup.MinhashRows
      val M = DefaultBenchModulus
      s"""WITH ${Dedup.duckMinhashCtes(Dedup.MinhashBands, Dedup.MinhashRows)},
        |fb AS (SELECT * FROM mband
        |       WHERE ((doc_id % $M) + $M) % $M = 0),
        |fhit AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
        |  FROM mband a JOIN fb b ON ${Dedup.duckBandEq(Dedup.MinhashRows)}),
        |fagree AS (
        |  SELECT h.doc_id,
        |         len(list_filter(range(1, ${k + 1}),
        |                         i -> sa.sig[i] = sb.sig[i])) AS m
        |  FROM fhit h JOIN msig sa ON sa.doc_id = h.doc_id
        |              JOIN msig sb ON sb.doc_id = h.bench_id),
        |fbest AS (
        |  SELECT doc_id, max(m) AS m FROM fagree
        |  WHERE CAST(m AS DOUBLE) / $k >= ${Dedup.MinhashMinAgree}
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |       coalesce(CAST(fbb.m AS DOUBLE) / $k, 0.0) AS best_agree,
        |       CAST(fbb.m IS NOT NULL AS INT) AS fuzzy_contaminated
        |FROM documents d LEFT JOIN fbest fbb USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    },
    "q_decontam" ->
      s"""WITH ${duckContamCtes("documents")}
         |SELECT d.doc_id, d.lang,
         |       CAST(coalesce(len(sh.shingles), 0) AS INT) AS n_ngrams,
         |       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |       CASE WHEN coalesce(len(sh.shingles), 0) > 0
         |            THEN $duckFracExpr
         |            ELSE 0.0 END AS overlap_frac,
         |       CAST(CASE WHEN coalesce(len(sh.shingles), 0) > 0
         |                  AND $duckFracExpr >= $DefaultMinFrac
         |            THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM documents d
         |LEFT JOIN sh USING (doc_id)
         |LEFT JOIN ov USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
  )
}
