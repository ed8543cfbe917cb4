package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.PortableRound
import graft.functions.TextHashes

/** Text-analysis pipeline over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting — the
  * training-data-pipeline extensions (builder prompt; out of reference
  * scope, SURVEY §2.9 note).
  *
  * All scoring is pure `functions._` column algebra (split/filter/size —
  * codegen'd, no UDFs); the only custom code is the native fingerprint
  * Expression. Everything is embarrassingly parallel per-document: no
  * shuffle at any SF.
  */
object TextAnalytics {

  private[operators] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def tokens(text: Column): Column = split(text, " ")

  /** `size()` that is NULL on a NULL array: Spark's `size(null)` is −1
    * while every DuckDB oracle's `len(...)` yields NULL, so per-doc count
    * columns must take this form to agree on null-text rows.
    * ([[qualityOk]] deliberately keeps the raw −1: `−1 >= minTokens` is
    * false, which IS the contract — null text fails the gate.)
    */
  private def sizeOrNull(arr: Column): Column = when(arr.isNotNull, size(arr))

  /** Rounded stopword-density of a text column — THE quality-gate ratio.
    * Single source of truth shared by [[qualityScores]] and
    * [[Curation.curateDocs]]; a tokenizer or rounding change here moves
    * the standalone and composed gates (and their oracles) in lockstep.
    */
  private[graft] def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stopArr = array(stopwords.map(lit): _*)
    // NULL text must yield a NULL ratio (the oracle's behavior) — the
    // unguarded form computes size(null)/size(null) = −1/−1 = 1.0
    when(text.isNotNull,
      PortableRound.r(
        size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
          size(toks), 4))
  }

  /** The registered quality gate: at least `QualityMinTokens` tokens and
    * a rounded stopword ratio of at least `QualityMinRatio`. Every gate
    * default and the DuckDB predicate [[duckQualityOk]] read these.
    */
  val QualityMinTokens = 10
  val QualityMinRatio = 0.01

  /** The registered deterministic split: buckets below `SplitTrainPct`
    * are train, the next `SplitValPct` are val, the rest test. Read by
    * [[splitLabelExpr]] and its DuckDB twin [[duckSplitCase]].
    */
  val SplitTrainPct = 80
  val SplitValPct = 10

  /** THE quality gate as one shared predicate: 1 iff the doc passes,
    * 0 otherwise — including NULL text, which must FAIL explicitly (a
    * null-propagating boolean cast would let null rows sail past
    * `=== 0` drop checks downstream). Every gate in the engine
    * (standalone scores, batch curation, streaming curation) consumes
    * this one definition. Shipped form since r17: the fused native
    * [[graft.functions.TextHashes.QualityVerdict]] (one compiled pass
    * over byte spans — the admission attribution put the interpreted
    * `filter` stopword probe at ~0.07 ms/row, the composite's FIRST
    * stage and hence every doc's floor); [[qualityOkAlgebra]] is the
    * retained column-algebra spelling, equality spec-pinned.
    */
  private[graft] def qualityOk(text: Column,
      minTokens: Int = QualityMinTokens, minRatio: Double = QualityMinRatio): Column =
    coalesce(
      graft.functions.TextHashes.qualityVerdictCol(
        text, minTokens, minRatio, stopwords), lit(0))

  /** The pre-r17 column-algebra spelling of [[qualityOk]] — the
    * independent reference implementation the fused expression is
    * spec-pinned against (the [[winnowFpArrayAlgebra]] discipline).
    */
  private[graft] def qualityOkAlgebra(text: Column): Column =
    coalesce(
      (size(tokens(text)) >= QualityMinTokens && stopwordRatio(text) >= QualityMinRatio)
        .cast("int"), lit(0))

  /** The deterministic split bucket/label of [[hashSplitDocs]] as shared
    * column expressions (also consumed by [[Curation]]). 31-bit fold
    * before the Knuth multiply — see the overflow note at the call site.
    */
  private[operators] def splitBucket(docId: Column): Column =
    pmod(pmod(docId, lit(2147483648L)) * lit(2654435761L), lit(100))

  private[graft] def splitLabelExpr(docId: Column): Column = {
    val b = splitBucket(docId)
    when(b < SplitTrainPct, "train")
      .when(b < SplitTrainPct + SplitValPct, "val")
      .otherwise("test")
  }

  /** Per-document token statistics (whitespace tokenization). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_measured"),
        sizeOrNull(tokens(col("text"))).as("n_tokens"),
        PortableRound.r(
          length(col("text")).cast("double") / sizeOrNull(tokens(col("text"))), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")

  /** Regex (BPE-ish) tokenization: alpha runs, digit runs, and single
    * non-alphanumeric marks as separate tokens — the class-based pattern
    * behaves identically under Java regex (Spark) and RE2 (DuckDB), so
    * the count is oracle-comparable.
    */
  def regexTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        sizeOrNull(regexp_extract_all(col("text"), lit(pattern), lit(0))).as("n_regex_tokens"),
        sizeOrNull(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_number_runs"),
        sizeOrNull(split(col("text"), " ")).as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length, token count, stopword ratio, mean token
    * length — the length/punct/stopword heuristics of C4/Gopher-style
    * corpus filtering (public recipe), as column algebra.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        sizeOrNull(toks).as("n_tokens"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        PortableRound.r(length(col("text")).cast("double") / sizeOrNull(toks), 4)
          .as("avg_token_len"),
        qualityOk(col("text")).as("quality_ok"))
      .orderBy("doc_id")
  }

  /** Token-count bounds of the [[gopherRules]] word-count rule (the
    * published MassiveText thresholds: 50–100,000 words).
    */
  private[graft] val GopherMinTokens = 50
  private[graft] val GopherMaxTokens = 100000

  /** Distinct required-stopword floor of [[gopherRules]] rule 5. */
  private[graft] val GopherRequiredHits = 2

  /** The Gopher/MassiveText rule-set document filter (Rae et al. 2021
    * appendix A1.1 — the public recipe; reference has no equivalent,
    * SURVEY §2.9 extension family): five deterministic per-document
    * rules over the shared whitespace tokenization, each reported as
    * its own metric column so downstream curation can attribute WHY a
    * document failed — the per-rule columns ARE the datasheet:
    *
    *   1. token count within [[[GopherMinTokens]], [[GopherMaxTokens]]]
    *   2. mean token length within [3, 10] characters
    *   3. symbol-to-token ratio ('#' chars + '...' runs) ≤ 0.1
    *   4. ≥ 80% of tokens contain an alphabetic character
    *   5. ≥ [[GopherRequiredHits]] distinct words of the engine's
    *      [[stopwords]] list present (the required-stopword rule
    *      instantiated over the gate family's single source of truth,
    *      so a stopword-list change moves every gate in lockstep)
    *
    * All counts are length-difference string algebra
    * (`length(text) − length(replace(text, …))`) and array filters —
    * one scan, codegen'd column algebra, no explode, no UDF, zero
    * shuffles before the final presentation sort, so the operator is
    * embarrassingly parallel at any corpus size. The composite verdict
    * compares the ROUNDED ratios (PortableRound, 4 dp) so Spark and
    * the DuckDB oracle gate on bit-identical values; NULL text fails
    * with NULL metrics (the [[qualityScores]] convention).
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    withGopherColumns(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .drop("text")
      .orderBy("doc_id")

  /** The five Gopher metric columns + verdict appended to any frame
    * with a `text` column — the single spelling shared by the batch
    * [[gopherRules]] query (and its oracle) and the streaming
    * [[graft.streaming.StreamingFeatures.gopherGateStream]] face, so
    * the two verdicts are bit-identical by construction.
    *
    * Engine room since r18: the fused one-pass
    * [[TextHashes.gopherStats]] census (integer ingredients; all ratio
    * arithmetic + rounding in this shared column algebra) — the
    * [[withGopherColumnsAlgebra]] spelling below is the retained
    * spec-pinned reference implementation (its per-token `rlike`
    * filter and per-stopword `array_contains` sweeps are interpreted
    * HOFs, the class every admission fuse removed).
    */
  private[graft] def withGopherColumns(df: DataFrame,
      pushable: Boolean = true): DataFrame = {
    df.withColumn("_g", TextHashes.gopherStatsCol(col("text"), stopwords,
      pushable))
      .withColumn("n_tokens", col("_g.n_tokens"))
      .withColumn("mean_token_len", PortableRound.r(
        col("_g.n_chars").cast("double") / col("_g.n_tokens"), 4))
      .withColumn("symbol_ratio", PortableRound.r(
        (col("_g.hash_count") + col("_g.ellipsis_count")).cast("double") /
          col("_g.n_tokens"), 4))
      .withColumn("alpha_frac", PortableRound.r(
        col("_g.alpha_tokens").cast("double") / col("_g.n_tokens"), 4))
      .withColumn("n_stop_hits", col("_g.stop_hits"))
      .withColumn("gopher_ok", coalesce(
        (col("n_tokens").between(GopherMinTokens, GopherMaxTokens) &&
          col("mean_token_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop_hits") >= GopherRequiredHits).cast("int"), lit(0)))
      .drop("_g")
  }

  /** Per-rule failure attribution of [[gopherRules]] — the corpus
    * datasheet a curation run reads before tuning thresholds: how many
    * docs fail EACH rule (independently, nulls excluded), how many have
    * NULL text, and how many pass the composite. One scan over the
    * fused census, one single-row aggregate — scale-free.
    */
  def gopherFunnel(spark: SparkSession, dir: String): DataFrame = {
    val g = withGopherColumns(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    def fails(c: Column): Column =
      sum(when(c, 1).otherwise(0)).cast("long")
    g.agg(
      count(lit(1)).cast("long").as("n_docs"),
      fails(col("text").isNull).as("n_null_text"),
      fails(col("n_tokens").isNotNull &&
        !col("n_tokens").between(GopherMinTokens, GopherMaxTokens))
        .as("fail_word_count"),
      fails(col("mean_token_len").isNotNull &&
        !col("mean_token_len").between(3.0, 10.0)).as("fail_mean_len"),
      fails(col("symbol_ratio").isNotNull && col("symbol_ratio") > 0.1)
        .as("fail_symbol"),
      fails(col("alpha_frac").isNotNull && col("alpha_frac") < 0.8)
        .as("fail_alpha"),
      fails(col("n_stop_hits").isNotNull &&
        col("n_stop_hits") < GopherRequiredHits).as("fail_stopword"),
      sum(col("gopher_ok")).cast("long").as("n_pass"))
  }

  /** The original column-algebra spelling of [[withGopherColumns]] —
    * retained as the spec-pinned reference implementation (lockstep
    * spec asserts column-for-column equality with the fused form).
    */
  private[graft] def withGopherColumnsAlgebra(df: DataFrame): DataFrame = {
    val text = col("text")
    val toks = tokens(text)
    val nTok = sizeOrNull(toks)
    // mean token length over non-space characters: exact under repeated
    // separators too (split-on-' ' counts the empty tokens they create,
    // and the char total is separator-free on both engines)
    val meanLen = PortableRound.r(
      length(replace(text, lit(" "), lit(""))).cast("double") / nTok, 4)
    val hashCount = length(text) - length(replace(text, lit("#"), lit("")))
    val ellipsisCount =
      (length(text) - length(replace(text, lit("..."), lit("")))) / lit(3)
    val symRatio =
      PortableRound.r((hashCount + ellipsisCount).cast("double") / nTok, 4)
    val alphaFrac = PortableRound.r(
      size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / nTok, 4)
    val stopArr = array(stopwords.map(lit): _*)
    val stopHits =
      when(text.isNotNull, size(filter(stopArr, w => array_contains(toks, w))))
    df
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len", meanLen)
      .withColumn("symbol_ratio", symRatio)
      .withColumn("alpha_frac", alphaFrac)
      .withColumn("n_stop_hits", stopHits)
      .withColumn("gopher_ok", coalesce(
        (col("n_tokens").between(GopherMinTokens, GopherMaxTokens) &&
          col("mean_token_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop_hits") >= GopherRequiredHits).cast("int"), lit(0)))
  }

  /** N-gram-free language-ID heuristic: score = density of per-language
    * marker words; argmax with 'und' fallback. Deterministic and
    * SQL-expressible so the oracle can replicate it. (A real n-gram model
    * is in [[langIdNgram]] — rows-only checked.)
    */
  def langIdHeuristic(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val enArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        PortableRound.r(size(filter(toks, t => array_contains(enArr, t))).cast("double") / size(toks), 4)
          .as("en_score"))
      .withColumn("pred_lang", when(col("en_score") >= 0.02, "en").otherwise("und"))
      .orderBy("doc_id")
  }

  /** Character-bigram profile language ID (public n-gram LID technique,
    * Cavnar & Trenkle 1994 shape): each bigram maps to a small bucket id
    * via a portable byte-folded-codepoint polynomial
    * `((cp1 % 256)·31 + cp2 % 256) % 7`, and the document profile is the
    * bucket-id sum. Round 1 used Spark's murmur `hash()` here, which no
    * other engine reproduces — the folded polynomial is engine-portable,
    * so this query is fully oracle-checked instead of rows-only.
    *
    * Portability contract: Spark's `ascii()` and DuckDB's `unicode()`
    * both return the full codepoint (verified empirically on this build —
    * `ascii(decode(unhex('E4BDA0'),'UTF-8')) = 20320`; note `chr()` is
    * mod-256 in Spark, which makes naive `ascii(chr(n))` probes
    * misleading). The explicit `% 256` fold on BOTH sides is a defensive
    * range bound for the polynomial, applied identically so it cannot
    * diverge. Supplementary-plane input (emoji) remains outside the
    * contract: the engines' single-char `split` semantics differ there.
    */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame =
    // one-pass native expression (TextHashes.BigramScore, doGenCode): the
    // column-algebra form (split + transform + aggregate over an index
    // sequence) allocates three arrays per row; the expression walks the
    // chars once with zero allocations and stays in whole-stage codegen
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextHashes.bigramScoreCol(col("text")).as("profile_score"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 repetition
    * filters, token-level form): distinct-token ratio and most-frequent-
    * token fraction per document. Heavily repetitive machine-generated
    * text scores low/high respectively — a standard corpus-filter input.
    * Relational wordcount shape (explode → partial-agg per (doc, token) →
    * per-doc rollup): both aggregations map-side combine, so the shuffle
    * carries one row per distinct (doc, token), never the raw token
    * stream — the 100 TB-safe formulation (array algebra per doc would be
    * O(n²) per document instead).
    */
  def repetitionScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"), max("c").as("top_c"))
      .select(col("doc_id"), col("n_tokens"),
        PortableRound.r(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        PortableRound.r(col("top_c").cast("double") / col("n_tokens"), 4)
          .as("top_token_frac"))
      .orderBy("doc_id")

  /** Gram sizes probed by [[ngramRepetition]]: the Gopher top-n-gram
    * rule sizes (2–4) plus two members of its duplicated-n-gram range
    * (5–10; both ends probed, interior sizes are interpolable — the
    * metric is monotone in n on both axes by construction).
    */
  private[graft] val RepetitionNs = Seq(2, 3, 4, 5, 10)

  /** Gopher repetition signals, n-gram form (Rae et al. 2021 §A1.1 —
    * the word-n-gram half of the repetition rule set;
    * [[repetitionScores]] is the single-token half): one row per
    * (document, n) for n ∈ [[RepetitionNs]] with
    *
    *   - `n_grams`    — total n-gram occurrences (token count − n + 1),
    *   - `top_gram_frac` — fraction of the document's non-space
    *     CHARACTERS covered by occurrences of the single most frequent
    *     n-gram (count × token-chars-of-gram / total token chars; the
    *     published top-2/3/4-gram rule thresholds at 0.20/0.18/0.16),
    *   - `dup_gram_frac` — fraction of n-gram occurrences whose gram
    *     appears ≥ 2 times (the duplicated-n-gram signal; occurrence
    *     form rather than Gopher's overlap-deduplicated character form,
    *     which is not expressible without per-doc interval folding —
    *     documented contract, monotone in the same direction).
    *
    * Deterministic top-gram tie-break: (count, char length, gram
    * string) all DESC — mirrored exactly by the oracle's window sort.
    *
    * Engine room (r18): one fused [[TextHashes.ngramRepStats]] census
    * per gram size — a compiled one-pass byte-span scan per row, ZERO
    * shuffles before the presentation sort. The retained relational
    * spelling ([[ngramRepetitionAlgebra]]) shuffled one row per
    * distinct gram per document — at 5 gram sizes that exchange
    * carries ≈ 24× the corpus text bytes as gram-string keys, the
    * dominant cost at any scale (sf0.1: 16.3 s → fused ~1 s). The two
    * spellings are pinned row-identical on the sf corpus by
    * CorpusOpsSpec; the oracle attests the fused form end-to-end.
    * Docs shorter than a gram size emit no (doc, n) row and NULL text
    * drops entirely — the [[repetitionScores]] convention, preserved
    * by filtering NULL censuses before the explode.
    */
  def ngramRepetition(spark: SparkSession, dir: String,
      ns: Seq[Int] = RepetitionNs): DataFrame = {
    // r19: ONE multi-n census expression — the per-n boundary/starts
    // scans collapse to a single pass, and n_chars rides out of the
    // same sweep (dropping the separate length(replace(·)) pass the
    // r18 ADVICE flagged); per-n census results are the identical
    // gramCensus the single-n expression runs
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextHashes.ngramRepStatsMultiCol(col("text"), ns).as("_m"))
      .select(col("doc_id"), col("_m.n_chars").as("n_chars"),
        explode(filter(array(ns.map(n =>
          struct(lit(n).as("n"), col(s"_m.s$n").as("st"))): _*),
          g => g.getField("st").isNotNull)).as("g"))
      .select(col("doc_id"), col("g.n").as("n"),
        col("g.st.n_grams").as("n_grams"),
        when(col("n_chars") > 0, PortableRound.r(
          (col("g.st.top_c") * col("g.st.top_glen")).cast("double") /
            col("n_chars"), 4)).as("top_gram_frac"),
        PortableRound.r(col("g.st.dup_c").cast("double") /
          col("g.st.n_grams"), 4).as("dup_gram_frac"))
      .orderBy("doc_id", "n")
  }

  /** The retained relational spelling of [[ngramRepetition]] (the
    * r17-era registered form, now the spec-pinned independent
    * implementation): all gram streams in ONE scan (one flatten of
    * per-n transform arrays, one explode), aggregated relationally —
    * the first groupBy on (doc, n, gram) partially aggregates
    * map-side, so the shuffle carries one row per distinct gram per
    * document, never the raw gram stream. Kept because the
    * fused-vs-relational lockstep (CorpusOpsSpec) is the repetition
    * family's independence argument: two implementations, one oracle
    * semantics.
    */
  private[graft] def ngramRepetitionAlgebra(spark: SparkSession, dir: String,
      ns: Seq[Int] = RepetitionNs): DataFrame = {
    val toks = tokens(col("text"))
    // per-n gram arrays guarded against size < n (sequence() would run
    // DESCENDING for a negative stop — filter the null guards out
    // before the flatten, never cast an untyped empty array)
    val gramArr = flatten(filter(array(ns.map(n =>
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          struct(lit(n).as("n"),
            concat_ws(" ", slice(toks, i + 1, lit(n))).as("gram"))))): _*),
      a => a.isNotNull))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(replace(col("text"), lit(" "), lit(""))).as("n_chars"),
        explode(gramArr).as("g"))
      .select(col("doc_id"), col("n_chars"),
        col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n_chars", "n", "gram").agg(count(lit(1)).as("c"))
    // token chars of the gram = string length minus its n−1 separators
    val glen = length(col("gram")) - (col("n") - 1)
    grams
      .groupBy("doc_id", "n_chars", "n")
      .agg(
        sum("c").as("n_grams"),
        max_by(struct(col("c"), glen.as("glen")),
          struct(col("c"), length(col("gram")), col("gram"))).as("top"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0))).as("dup_c"))
      .select(col("doc_id"), col("n"), col("n_grams"),
        when(col("n_chars") > 0, PortableRound.r(
          (col("top.c") * col("top.glen")).cast("double") / col("n_chars"), 4))
          .as("top_gram_frac"),
        PortableRound.r(col("dup_c").cast("double") / col("n_grams"), 4)
          .as("dup_gram_frac"))
      .orderBy("doc_id", "n")
  }

  /** Gopher repetition-rule thresholds (Rae et al. 2021 §A1.1): max
    * top-n-gram character fraction per n, and the max duplicated-5-gram
    * occurrence fraction ([[ngramRepetition]]'s documented occurrence
    * spelling of the duplicated-gram rule).
    */
  private[graft] val RepTopMax = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private[graft] val RepDup5Max = 0.15

  /** The repetition-rule verdict columns appended to any frame with a
    * `text` column — the single spelling shared by the batch
    * [[repetitionGate]] query (and its oracle) and the streaming
    * [[graft.streaming.StreamingFeatures.repetitionGateStream]] face.
    * Engine room: one fused [[TextHashes.ngramRepStats]] pass per gram
    * size (integer census outputs — all fraction arithmetic and
    * rounding stays in this shared column algebra, so the fused and
    * relational spellings cannot diverge on float paths). A doc too
    * short for a gram size has NULL fractions and PASSES that rule
    * (nothing to repeat — the word-count rule is [[gopherRules]]' job);
    * NULL text fails with NULL metrics, the gate-family convention.
    */
  private[graft] def withRepetitionColumns(df: DataFrame,
      pushable: Boolean = true): DataFrame = {
    val ns = RepTopMax.map(_._1) :+ 5
    // r19: the four single-n censuses (each re-scanning the text for
    // its own boundary pass) collapse into ONE multi-n expression —
    // one boundary scan fills every gram size's census and n_chars
    // rides out of the same sweep (text_gate allocation-traffic fix,
    // r18 verdict ask #4)
    val withStats =
      df.withColumn("_repm",
        TextHashes.ngramRepStatsMultiCol(col("text"), ns, pushable))
    val nChars = col("_repm.n_chars")
    val withFracs = RepTopMax.foldLeft(withStats) { case (d, (n, _)) =>
      d.withColumn(s"top${n}_frac",
        when(col(s"_repm.s$n").isNotNull && nChars > 0,
          PortableRound.r((col(s"_repm.s$n.top_c") * col(s"_repm.s$n.top_glen"))
            .cast("double") / nChars, 4))) }
      .withColumn("dup5_frac",
        when(col("_repm.s5").isNotNull, PortableRound.r(
          col("_repm.s5.dup_c").cast("double") / col("_repm.s5.n_grams"), 4)))
    withFracs
      .withColumn("rep_ok", when(col("text").isNotNull,
        (RepTopMax.map { case (n, mx) =>
          coalesce(col(s"top${n}_frac"), lit(0.0)) <= mx }.reduce(_ && _) &&
          coalesce(col("dup5_frac"), lit(0.0)) <= RepDup5Max).cast("int"))
        .otherwise(lit(0)))
      .drop("_repm")
  }

  /** The Gopher repetition-rule document gate: per-doc top-2/3/4-gram
    * character fractions + duplicated-5-gram occurrence fraction (the
    * [[ngramRepetition]] metrics at the published rule sizes) and the
    * composite verdict at the [[RepTopMax]]/[[RepDup5Max]] thresholds.
    * Computed via the fused one-pass-per-n [[TextHashes.ngramRepStats]]
    * expression, so this query's oracle check attests the NATIVE
    * spelling end-to-end (the relational spelling is attested by
    * q_ngram_repetition against the same gram algebra — two independent
    * implementations, one oracle semantics). Scan-side column work,
    * zero shuffles before the presentation sort.
    */
  def repetitionGate(spark: SparkSession, dir: String): DataFrame =
    withRepetitionColumns(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .drop("text")
      .orderBy("doc_id")

  /** Corpus vocabulary top-k: the classic distributed wordcount + top-k.
    * Partial aggregation combines per partition before the single shuffle
    * on token, and the sort+limit compiles to TakeOrderedAndProject (per-
    * partition heaps, no global sort) — both properties hold at any SF.
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)

  /** Deterministic hash-based train/val/test split — the reproducible
    * alternative to RNG `sample()`: bucket = (doc_id · Knuth) mod 100, so
    * a document's split is a pure function of its id — stable across
    * runs, partitionings, engines, and corpus growth (new docs never move
    * old ones between splits, unlike fraction-based random sampling).
    * Registered as the per-(lang, split) count rollup (small deterministic
    * output); [[hashSplitDocs]] is the per-document operator.
    */
  def hashSplitDocs(spark: SparkSession, dir: String): DataFrame =
    // fold the id to 31 bits BEFORE the Knuth multiply: the raw product
    // overflows Long past doc_id ≈ 3.47e9 (ANSI mode throws; the DuckDB
    // twin errors the same way) — the repo-wide 31-bit rule applies here
    Tables.documents(spark, dir)
      .withColumn("split", splitLabelExpr(col("doc_id")))

  /** Per-(lang, split) sizes of [[hashSplitDocs]] (the oracle-checkable
    * rollup). Embarrassingly parallel scan + one small-key shuffle.
    */
  def hashSplitCounts(spark: SparkSession, dir: String): DataFrame =
    hashSplitDocs(spark, dir)
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")

  /** Stratified deterministic downsampling by language — training-data
    * mixing weights (e.g. upweight low-resource langs) via the same
    * hash-bucket trick at per-mille granularity: keep a doc iff
    * (doc_id · K) mod 1000 < rate(lang). No RNG, no sampleBy seed
    * sensitivity to partitioning; the kept set is a deterministic function
    * of (doc_id, lang) in any engine.
    *
    * The multiplier (xxhash prime 2246822519) deliberately differs from
    * [[hashSplitDocs]]'s Knuth constant: with a shared multiplier,
    * (x mod 1000) mod 100 = x mod 100 would make the sampling bucket
    * fully determine the split bucket — e.g. any rate ≤ 100‰ would land
    * every sampled doc in 'train'. Distinct multipliers decorrelate the
    * two pipeline stages so sampling composes with splitting.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
      ratesPerMille: Map[String, Int], defaultPerMille: Int = 0): DataFrame = {
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) {
      case (acc, (lang, r)) => when(col("lang") === lang, r).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2246822519L), lit(1000)) < rate)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** The registered mixing weights for q_stratified_sample: downsample
    * the high-resource lang, keep the rest at higher rates.
    */
  val SampleRates: Map[String, Int] =
    Map("en" -> 250, "de" -> 800, "es" -> 800, "fr" -> 800, "zh" -> 800)

  /** Registered per-source quota for [[quotaSample]]. */
  val DefaultQuota = 10

  /** Exact-k per-source sample — the reproducible, distributed answer to
    * "give me exactly k documents from every source" (inspection panels,
    * eval slices, per-domain budget caps à la UNIMAX). Reservoir
    * sampling is the single-machine tool for this, but its output
    * depends on encounter order — useless as a cross-run contract on a
    * cluster. Instead rank every doc by a deterministic pseudo-random
    * key (the split/sampling fold mixed by a THIRD multiplier — XXH32
    * prime3 3266489917, decorrelated from [[hashSplitDocs]]'s
    * 2654435761 and [[stratifiedSample]]'s 2246822519 so quota
    * selection composes with both, reduced mod the prime 1e9+7) and
    * keep each source's bottom-k: a uniform-minus-hash-bias exact-k
    * sample that is a pure function of (doc_id, source) in any engine.
    *
    * Scale shape: rank-over-partition + `rk <= k` compiles to
    * WindowGroupLimit — per-partition bottom-k heaps run map-side, so
    * only ~k rows per (source, input-partition) reach the exchange;
    * nothing corpus-sized shuffles and no RNG state exists anywhere.
    */
  def quotaSample(spark: SparkSession, dir: String,
      perSource: Int = DefaultQuota): DataFrame = {
    require(perSource >= 1, s"perSource must be >= 1, got $perSource")
    val key = pmod(
      pmod(col("doc_id"), lit(2147483648L)) * lit(3266489917L),
      lit(1000000007L))
    Tables.documents(spark, dir)
      .withColumn("sample_key", key)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("sample_key", "doc_id")))
      .filter(col("rk") <= perSource)
      .select(col("source"), col("rk"), col("doc_id"), col("sample_key"))
      .orderBy("source", "rk")
  }

  /** Sampler-composition audit — the CHECKED number behind the
    * decorrelated-multiplier claim: [[quotaSample]] (XXH32 prime3),
    * [[stratifiedSample]] (2246822519) and the split labeler
    * (2654435761) deliberately use different Knuth/XXH multipliers so
    * selection composes with splitting instead of aliasing it; this
    * query MEASURES the composition (per-split counts of each sample
    * against the corpus split sizes), turning the scaladoc assertion
    * into an oracle-green integer artifact. A biased multiplier pair
    * would surface as a split whose sampled_frac diverges from its
    * siblings'. Splits a sampler missed entirely still get a zero row
    * (the corpus side drives the join).
    */
  def sampleComposition(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables.documents(spark, dir)
      .select(col("doc_id"), splitLabelExpr(col("doc_id")).as("split"))
      .transform(Materialize(_)) // three consumers, one scan
    val corpus = lab.groupBy("split").agg(count(lit(1)).as("n_corpus"))
    def comp(sample: DataFrame, name: String): DataFrame =
      corpus.join(
        sample.join(lab, "doc_id").groupBy("split")
          .agg(count(lit(1)).as("n_sampled")),
        Seq("split"), "left")
        .select(lit(name).as("sampler"), col("split"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          col("n_corpus"),
          PortableRound.r(
            coalesce(col("n_sampled"), lit(0L)).cast("double") / col("n_corpus"), 6)
            .as("sampled_frac"))
    comp(quotaSample(spark, dir).select("doc_id"), "quota")
      .unionAll(comp(
        stratifiedSample(spark, dir, SampleRates).select("doc_id"), "stratified"))
      .orderBy("sampler", "split")
  }

  /** The sweep grid for [[qualitySweep]] — one constant interpolated
    * into BOTH the operator and its oracle (the [[Dedup.lshTuning]]
    * interpolation discipline): thresholds around the registered gate
    * default (10, 0.01) plus the stricter corners.
    */
  val QualityGrid: Seq[(Int, Double)] = Seq(
    (5, 0.01), (10, 0.01), (20, 0.01), (10, 0.05), (10, 0.1), (50, 0.1))

  /** The measured basis for the quality-gate default — docs passing and
    * pass fraction per (minTokens, minRatio) threshold pair: the
    * gate-tuning funnel to read before moving the knobs, doing for the
    * quality gate what [[Dedup.lshTuning]] does for the banding split —
    * but fully oracle-checkable, because the per-config predicate is
    * [[qualityOk]]'s own (same token count, same 4-dp rounded stopword
    * ratio, same null-fails rule; the spec pins the (10, 0.01) row to
    * the sum of registered quality_ok flags). One corpus scan: per-doc
    * (n_tokens, ratio) cross-joins the broadcast grid scan-side, so the
    * only shuffle carries grid-sized map-combined partial counts.
    */
  def qualitySweep(spark: SparkSession, dir: String,
      grid: Seq[(Int, Double)] = QualityGrid): DataFrame = {
    import spark.implicits._
    val cfg = grid.toDF("min_tokens", "min_ratio")
    val scored = Tables.documents(spark, dir).select(
      sizeOrNull(tokens(col("text"))).as("nt"),
      stopwordRatio(col("text")).as("sr"))
    scored.crossJoin(broadcast(cfg))
      .groupBy("min_tokens", "min_ratio")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") >= col("min_tokens") && col("sr") >= col("min_ratio"), 1L)
          .otherwise(0L)).as("n_pass"))
      .select(col("min_tokens"), col("min_ratio"), col("n_pass"),
        PortableRound.r(col("n_pass").cast("double") / col("n_docs"), 6)
          .as("pass_frac"))
      .orderBy("min_tokens", "min_ratio")
  }

  /** Document fingerprints via the native portable Expressions: the
    * 62-bit two-fold content fingerprint and the portable SimHash over
    * tokens. Oracle-checkable since round 13 — every step is integer
    * math inside int64 (folds mod 2³¹, CW mixes mod 2³¹−1, bit sign
    * sums) that the DuckDB twin replays exactly; the previous 64-bit
    * wraparound forms (multiply-overflow as the algorithm) were the
    * reason this family was rows-only for 12 rounds.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TextHashes.fingerprint62(col("text")).as("fp62"),
        TextHashes.simhash62(tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** Registered-query defaults, interpolated into the oracle so the two
    * cannot desynchronize (repo convention).
    */
  val CollocTopK = 15
  val CollocMinCount = 3

  /** Winnowing parameters: token-k-grams, window of w consecutive gram
    * hashes. Guarantee (Schleimer–Wilkerson–Aiken 2003): any shared run
    * of ≥ w + k − 1 tokens yields a shared fingerprint hash. The oracle
    * SQL reads both ([[duckWinnowCtes]]); the operator takes any (k, w).
    */
  val WinnowK = 3
  val WinnowW = 4
  private val FoldM = 2147483648L // 2^31 — the repo-wide portable-fold modulus
  private val GramMult = 1000003L // prime; 2^31 · 1000003 < 2^63 (ANSI-safe)
  private val PosBits = 32 // hash(31 bits)·2³² + pos(32 bits) < 2⁶³ —
  // no realistic per-doc gram count can overflow the packing
  private val PosPack = 1L << PosBits

  /** Shared winnowing hash halves (one definition for the batch window
    * form and the streaming array form — a change here moves both and
    * their oracle in lockstep). The token fold is the native codegen'd
    * [[TextHashes.PortableFold]] — value-identical to the column
    * algebra `aggregate(transform(split(t, ""), c → pmod(ascii(c),
    * 256)), …)` it replaced (TextHashesSpec pins the equality incl.
    * non-ASCII), without the interpreted per-character lambda steps
    * that dominated the winnow family's scan cost.
    */
  private def winnowTokHash(t: Column): Column =
    TextHashes.portableFoldCol(t)

  private def winnowGramHash(th: Column, p: Column, k: Int): Column =
    aggregate(slice(th, p, lit(k)), lit(0L),
      (a, b) => pmod(a * lit(GramMult) + b, lit(FoldM)))

  /** Per-document winnow fingerprint set as ONE array expression — the
    * streaming-safe form of [[winnowFingerprints]] (window functions are
    * illegal on streams; the per-window argmin is array algebra here):
    * identical packing, identical selection, distinct fp hashes out.
    * Docs below w+k−1 tokens (or NULL) yield an EMPTY array. Equality
    * with the batch operator's per-doc fp sets is spec-pinned on the sf
    * corpus. Batch operators must NOT use this — [[winnowFpsOf]] is the
    * batch form; this exists only where window functions are illegal.
    *
    * Cost shape: two chained single-pass `aggregate` folds, each
    * consuming its input array exactly once (the aggregate's collection
    * argument) and carrying a ≤ k- (resp. ≤ w-) element ring buffer in
    * the fold state. Lambda variables are BOUND VALUES, so the repeated
    * buffer/output references inside the merge are free; only non-
    * variable subtrees re-evaluate. The previous nested-`transform`
    * form captured the gram-hash array inside the window lambda, and
    * Catalyst neither subexpression-eliminates across lambda scopes nor
    * codegens higher-order functions — the capture re-evaluated the
    * whole O(ng·k) gram array per window, O(ng²·k) per doc (measured
    * 117 s vs 0.3 s against the window form on the 500-doc sf0.001
    * corpus). This form is O(ng·(k+w)) fold work per doc (plus the
    * grown output array's append copies, second-order at real doc
    * lengths).
    */
  private[graft] def winnowFpArray(text: Column, k: Int, w: Int): Column = {
    val emptyArr = array().cast("array<bigint>")
    // r16: the selection runs in the native codegen'd
    // [[TextHashes.WinnowSelectExpr]] (one compiled pass, monotonic-
    // deque window minima) — the chained-aggregate algebra form below
    // ([[winnowFpArrayAlgebra]]) allocated a fresh ring buffer per fold
    // step and owned most of the admission pipeline's 0.66 ms/row
    // winnow stage. Value equality is spec-pinned array-for-array.
    when(text.isNotNull,
      array_distinct(transform(
        TextHashes.winnowSelectCol(text, k, w),
        s => shiftrightunsigned(s, PosBits))))
      .otherwise(emptyArr)
  }

  /** The pre-r16 chained-`aggregate` spelling of [[winnowFpArray]] —
    * kept as the independent reference implementation the native
    * expression is spec-pinned against (two spellings, one formula:
    * the same contract [[TextHashes.portableFold]] keeps with its
    * column-algebra twin).
    */
  private[graft] def winnowFpArrayAlgebra(text: Column, k: Int, w: Int): Column = {
    val emptyArr = array().cast("array<bigint>")
    val zero = struct(emptyArr.as("buf"), emptyArr.as("out"))
    // pass 1 — token hashes in, packed (gramHash·2³² + pos) combs out:
    // ring-buffer the last ≤ k token hashes; a full buffer emits its
    // k-gram fold, with pos = #grams already emitted (0-based)
    val combs = aggregate(
      transform(tokens(text), winnowTokHash(_)),
      zero,
      (st, h) => {
        val buf = st.getField("buf")
        val out = st.getField("out")
        val buf2 = when(size(buf) < k, concat(buf, array(h)))
          .otherwise(concat(slice(buf, 2, k - 1), array(h)))
        val gram = aggregate(buf2, lit(0L),
          (a, b) => pmod(a * lit(GramMult) + b, lit(FoldM)))
        struct(buf2.as("buf"),
          when(size(buf2) === k,
            concat(out, array(gram * lit(PosPack) + size(out).cast("long"))))
            .otherwise(out).as("out"))
      },
      st => st.getField("out"))
    // pass 2 — combs in, per-window argmins out: ring-buffer the last
    // ≤ w combs; a full buffer emits its min (the winnow selection)
    val sels = aggregate(
      combs,
      zero,
      (st, c) => {
        val buf = st.getField("buf")
        val out = st.getField("out")
        val buf2 = when(size(buf) < w, concat(buf, array(c)))
          .otherwise(concat(slice(buf, 2, w - 1), array(c)))
        struct(buf2.as("buf"),
          when(size(buf2) === w, concat(out, array(array_min(buf2))))
            .otherwise(out).as("out"))
      },
      st => st.getField("out"))
    when(text.isNotNull,
      array_distinct(transform(sels, s => shiftrightunsigned(s, PosBits))))
      .otherwise(emptyArr)
  }

  /** Winnowed document fingerprints — the MOSS local fingerprinting
    * algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — public
    * recipe): hash every token k-gram, then in each window of w
    * consecutive gram hashes keep the minimum; the selected (hash, pos)
    * set is a ~2/(w+1)-density fingerprint with the matching GUARANTEE
    * that two documents sharing ≥ w+k−1 consecutive tokens share a
    * fingerprint hash — the property plain every-nth sampling lacks.
    *
    * Oracle-checkable, unlike [[fingerprints]]' 64-bit wraparound
    * hashes: token hashes use the [[Dsir]] portable base-31 fold
    * (mod 2³¹), gram hashes fold those with a prime multiplier in
    * ANSI-safe range, and the per-window argmin is ONE integer `min`
    * over hash·2³² + pos — ties break toward (smaller hash, leftmost
    * pos) identically in any engine (the classic picks rightmost; the
    * guarantee only needs SOME shared selection, spec-pinned).
    *
    * Scale shape: everything is per-document (window partitioned by
    * doc_id — embarrassingly parallel, no global sort); the output is
    * the ~2/(w+1)-thinned fingerprint set, the frame downstream
    * cross-doc dedup would bucket-join on. Docs shorter than w+k−1
    * tokens have no complete window and are absent by definition; the
    * (hash, pos) packing carries a 32-bit position, so even a
    * 4-billion-gram document cannot overflow it.
    */
  def winnowFingerprints(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame =
    winnowSelect(winnowGrams(spark, dir, k), w).orderBy("doc_id", "pos")

  /** The k-dependent (and w-independent) half of winnowing: per doc, the
    * packed (gram hash · 2³² + position) stream. Split out so the tuning
    * sweep shares ONE tokenize+hash pass across every w cell of a k —
    * the window selection is cheap relative to re-hashing the corpus.
    */
  private[operators] def winnowGrams(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    winnowGramsOf(Tables.documents(spark, dir), k)

  /** [[winnowGrams]] over an arbitrary (doc_id, text, …) frame — the
    * batch fingerprint head for operators that winnow a FILTERED or
    * caller-supplied corpus (the snapshot-refresh family).
    */
  private[operators] def winnowGramsOf(docs: DataFrame, k: Int): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("wtk"))
      .withColumn("th", transform(col("wtk"), winnowTokHash(_)))
      .withColumn("ng", (size(col("th")) - lit(k - 1)).cast("long"))
      .filter(col("ng") >= 1)
      .select(col("doc_id"), col("ng"),
        posexplode(transform(sequence(lit(1), col("ng").cast("int")),
          p => winnowGramHash(col("th"), p, k) * lit(PosPack) + (p - 1)))
          .as(Seq("pidx", "comb")))

  /** Per-doc distinct winnow fp set over an arbitrary (doc_id, text, …)
    * frame via the BATCH window form — per-doc equal to
    * [[winnowFpArray]] (spec-pinned), but linear-cost: the array form's
    * nested higher-order functions re-evaluate their captured arrays per
    * lambda element (Catalyst cannot subexpression-eliminate across
    * lambda scopes, and higher-order functions are interpreted, not
    * codegen'd), making it O(ng²·k) per doc — measured 117 s vs 0.3 s on
    * the 500-doc sf0.001 corpus. Batch paths must use THIS; the array
    * form exists only for streams, where window functions are illegal.
    */
  private[graft] def winnowFpsOf(docs: DataFrame, k: Int, w: Int): DataFrame =
    winnowSelect(winnowGramsOf(docs, k), w).select("doc_id", "fp").distinct()

  /** The w-dependent half: per-window argmin over a [[winnowGrams]]
    * frame, complete windows only (docs with ng < w contribute none —
    * `pidx <= ng − w` is vacuously false for every row).
    */
  private def winnowSelect(grams: DataFrame, w: Int): DataFrame =
    grams
      .withColumn("sel", min(col("comb")).over(
        Window.partitionBy("doc_id").orderBy("pidx").rowsBetween(0, w - 1)))
      .filter(col("pidx") <= col("ng") - w)
      .select(col("doc_id"),
        pmod(col("sel"), lit(PosPack)).as("pos"),
        expr(s"sel div $PosPack").as("fp"))
      .distinct()

  /** Top collocations — adjacent word pairs ranked by the
    * frequency-weighted PMI-monotone score c_ab²·N / (c_a·c_b): the
    * word2vec phrase-mining shape (Mikolov et al. 2013 score
    * count(ab)/(count(a)·count(b)), public recipe — here multiplied by
    * N·c_ab so every product stays in exact int64 and the ONLY float op
    * is one division of exactly-represented integers, which IEEE 754
    * rounds identically in any engine — unlike libm log, which is why
    * this is oracle-checkable where a literal PMI would be rows-only).
    * Phrase mining feeds tokenizer/vocab construction: the top rows are
    * the bigrams worth merging into single tokens.
    *
    * Plan shape: one text scan per count side (unigram + bigram — text
    * is never checkpointed, repo rule), counts shuffle as (token, long)
    * / (pair, long) only, the two count joins broadcast nothing heavier
    * than the filtered bigram side, and the final top-k is a
    * TakeOrdered (O2), never a global sort. `minCount` prunes the long
    * tail BEFORE the joins — at 100 TB the c_ab ≥ minCount filter is
    * what keeps the pair table join-sized.
    */
  def collocations(spark: SparkSession, dir: String,
      topK: Int = CollocTopK, minCount: Int = CollocMinCount): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(tokens(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .transform(Materialize(_)) // N + both join sides read it
    val nTotal = uni.agg(sum("c").as("n_total"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
        i => struct(element_at(col("w"), i + lit(1)).as("w1"),
          element_at(col("w"), i + lit(2)).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("tok").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nTotal))
      .select(col("w1"), col("w2"), col("c_ab"),
        PortableRound.r((col("c_ab") * col("c_ab") * col("n_total")).cast("double")
          / (col("c_a") * col("c_b")).cast("double"), 4).as("score"))
      .orderBy(desc("score"), asc("w1"), asc("w2"))
      .limit(topK)
  }

  /** Per-source charset hygiene profile — the byte-level quality
    * dimension the token-based gates can't see: mojibake (U+FFFD
    * replacement chars from a bad transcode), raw control bytes, and
    * non-ASCII density. Real pipelines gate on exactly these (CCNet /
    * RefinedWeb-style encoding filters, public recipes); a source whose
    * nonascii_frac jumps between crawls usually changed its upstream
    * decoder, not its language.
    *
    * Counting idiom: chars-in-class = length(text) −
    * length(regexp_replace(text, class, "")) — pure built-ins, codegen'd,
    * and portable (Java regex and RE2 agree on `[\x..-\x..]` classes;
    * both engines count length in codepoints). Embarrassingly parallel
    * per document, one shuffle of ≤ n_sources·counters rows.
    */
  def charsetProfile(spark: SparkSession, dir: String): DataFrame = {
    def classChars(cls: String): Column =
      coalesce(length(col("text")) - length(regexp_replace(col("text"), cls, "")),
        lit(0)).cast("long")
    val nonascii = "[^\\x00-\\x7f]"
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(length(col("text")), lit(0)).cast("long")).as("n_chars"),
        sum(classChars("[0-9]")).as("digit_chars"),
        sum(classChars(" ")).as("space_chars"),
        sum(classChars(nonascii)).as("nonascii_chars"),
        sum(classChars("[\\x00-\\x08\\x0b-\\x1f\\x7f]")).as("control_chars"),
        sum(when(col("text").rlike(nonascii), 1L).otherwise(0L)).as("docs_nonascii"),
        sum(when(col("text").contains("�"), 1L).otherwise(0L)).as("docs_mojibake"))
      .withColumn("nonascii_frac",
        // an all-NULL-text source has n_chars 0: ANSI Spark THROWS on
        // the 0/0 where DuckDB yields NaN — the explicit 0.0 guard is
        // the only form the two engines agree on (caught by the
        // datasheet fixture, not the sf corpora, which have no such
        // source)
        when(col("n_chars") > 0,
          PortableRound.r(col("nonascii_chars").cast("double")
            / col("n_chars").cast("double"), 6))
          .otherwise(lit(0.0)))
      .orderBy("source")
  }

  /** Minimum shared fingerprints for a [[winnowMatches]] pair — 1 would
    * surface every single-gram coincidence; 2 is the classic MOSS
    * report floor. The oracles read it ([[duckWinnowMatchCtes]]).
    */
  val WinnowMinShared = 2

  /** Stop-fingerprint cap for [[winnowMatches]]: a fingerprint selected
    * by d documents fans d·(d−1)/2 pair rows in the self-join, so one
    * boilerplate passage shared by a million pages would alone emit
    * ~5·10¹¹ rows. Fingerprints with document frequency above this cap
    * are dropped from the match frame BEFORE the self-join — the same
    * discipline MOSS applies to over-shared hashes and [[CorpusStats]]
    * applies to heavy-hitter candidates. 1000 bounds any single
    * fingerprint's fan at ~500k pairs while staying far above anything
    * the test corpora produce (measured max df: 6 at sf0.01, 23 at
    * sf0.1 — the cap is invisible there); re-probe the df distribution
    * (the [[winnowNovelty]] rollup) before tuning it on a
    * boilerplate-heavy crawl. The oracles read it
    * ([[duckWinnowMatchCtes]]).
    */
  val WinnowMaxDf = 1000

  /** Cross-document near-dup candidates from shared winnow fingerprints
    * — the MOSS report: pairs of documents whose selected fingerprint
    * SETS intersect in ≥ minShared hashes, with overlap_frac =
    * n_shared / min(|A|, |B|) as the containment-style score. This is
    * the position-robust LOCAL-match signal the global sketches can't
    * give: MinHash/SimHash score whole-document similarity, winnowing
    * flags a shared paragraph inside otherwise unrelated documents
    * (guarantee: any shared ≥ w+k−1-token run fires at least one shared
    * hash; ≥ w+2(k−1)+1 tokens fire ≥ 2 in expectation).
    *
    * Scale shape: computed over [[winnowPiles]]' heavy/light split —
    * fingerprinting runs once per distinct TEXT, heavy fps pair at
    * PILE granularity and light fps at bounded doc granularity (the
    * r14 probe measured the undecomposed doc-level join 3.9× over
    * linear at factor 30 because replica piles fan candidate pairs
    * quadratically), then the doc-level pair list is rebuilt by
    * answer-bounded expansion and a (doc_a, doc_b) part-sum. The
    * exchanges carry (fp, id/digest) pairs from the already
    * ~2/(w+1)-thinned selection; stop-fingerprints with document
    * frequency above [[WinnowMaxDf]] are dropped before any join. The
    * full pair report's OUTPUT is still quadratic in pile size by
    * definition — callers who need a bounded answer use
    * [[winnowMatchesTopK]]; for the cluster answer use
    * [[winnowComponents]].
    *
    * Corpora at/below `pileCutover` docs skip the pile head for the
    * 3-frame doc-level join (see [[WinnowPileCutover]]) — same report,
    * spec-pinned both ways.
    */
  def winnowMatches(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared,
      maxDf: Int = WinnowMaxDf,
      heavyDf: Int = WinnowHeavyDf,
      pileCutover: Long = WinnowPileCutover,
      pairBudget: Long = Dedup.DefaultPairBudget): DataFrame = {
    val twins = "winnowMatchesTopK (bounded partners) or winnowComponents (cluster answer)"
    if (corpusDocs(spark, dir) <= pileCutover)
      return matchesFromFingerprints(
        winnowFingerprints(spark, dir, k, w), minShared, maxDf,
        pairBudget, "winnowMatches", twins)
    val p = winnowPiles(spark, dir, k, w, maxDf, heavyDf)
    val memb = p.membership
    // heavy blocks expand to doc pairs carrying their H part; light
    // pairs carry their L part; summing per (doc_a, doc_b) is exact
    // because each shared fp falls on exactly one side of the split
    val heavyCross = pilePairs(p, 1)
      .join(memb.select(col("dg").as("dg_a"), col("doc_id").as("ida")), "dg_a")
      .join(memb.select(col("dg").as("dg_b"), col("doc_id").as("idb")), "dg_b")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        col("n_shared").as("part"))
    val heavyIntra = selfPiles(p, 1)
      .join(memb.select(col("dg"), col("doc_id").as("ida")), "dg")
      .join(memb.select(col("dg"), col("doc_id").as("idb")), "dg")
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("r").as("part"))
    val light = lightPairs(p)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("lshare").as("part"))
    val sizes = memb.select(col("doc_id"), col("n_fp"))
    val report = heavyCross.unionAll(heavyIntra).unionAll(light)
      .groupBy("doc_a", "doc_b").agg(sum("part").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        PortableRound.r(col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 4).as("overlap_frac"))
    Dedup.pairBudgetGuard(report, pairBudget, "winnowMatches", twins)
      .orderBy("doc_a", "doc_b")
  }

  /** Partners kept per document by [[winnowMatchesTopK]] — 5 mirrors the
    * typical "top sharers" report depth. Structural in the oracle.
    */
  val WinnowTopK = 5

  /** Bounded twin of [[winnowMatches]] — top-`topK` partners per
    * document by (n_shared DESC, partner ASC). The full pair report's
    * output is quadratic in dup-pile size (measured 10.07 M rows at
    * factor 30 — the cost IS the answer), which makes it the wrong shape
    * to ship at 100 TB; this form caps the answer at `topK` rows per
    * document AND (since round 15) bounds the COMPUTE via
    * [[winnowPiles]]' heavy/light split: heavy fps pair at pile
    * granularity, light fps at bounded doc granularity, so replica
    * piles no longer fan quadratic pair work before the rank filter
    * (r14 measured the undecomposed doc-level form 3.91× over linear
    * at factor 30 precisely because the top-k limit ran after the pair
    * exchange).
    *
    * Candidate reconstruction is exact and bounded. For doc a, the
    * materialized candidates are (i) the topK+1 smallest member ids of
    * every heavy-partner pile (within a pile all non-light candidates
    * score the same H part and tie-break by id, so any later member is
    * dominated by ≥ topK earlier ones of which at most one is a
    * itself), (ii) the same shortlist of a's own pile, and (iii) a's
    * light partners, each carrying its pile's H part looked up from
    * the block frame (own pile's |H| for intra-pile partners). The
    * per-(doc, partner) rollup max(H part) + sum(L part) is exact —
    * the H part repeats identically on every row of one pair, L parts
    * appear once. Ties cannot occur (partner ids unique per pair), so
    * the ordering is total, the report deterministic, and the computed
    * ranks equal the doc-level ranks — spec-pinned against the
    * doc-level brute force on a replica-prefix fixture. Corpora
    * at/below `pileCutover` docs skip the pile head for the doc-level
    * form ([[topkFromFingerprints]], see [[WinnowPileCutover]]).
    */
  def winnowMatchesTopK(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared,
      maxDf: Int = WinnowMaxDf,
      topK: Int = WinnowTopK,
      heavyDf: Int = WinnowHeavyDf,
      pileCutover: Long = WinnowPileCutover): DataFrame = {
    if (corpusDocs(spark, dir) <= pileCutover)
      return topkFromFingerprints(
        winnowFingerprints(spark, dir, k, w), minShared, maxDf, topK)
    val p = winnowPiles(spark, dir, k, w, maxDf, heavyDf)
    val memb = p.membership
    val hp = pilePairs(p, 1)
    // ≤ topK+1 smallest member ids per pile (each carrying its OWN
    // capped size) — WindowGroupLimit, never a global sort; one spare
    // row absorbs the partner != self filter. Only piles with ≥ 1
    // heavy fp ever have their shortlist consumed (both candidate
    // sides join against pilePairs/selfPiles frames), so the semi-join
    // keeps the corpus-sized H = ∅ pile — most docs, on a
    // low-duplication corpus — out of the window's one skewed
    // partition (r15 review). GIANT piles additionally pre-filter with
    // a two-phase SALTED min-k (r15 advice #4, the hourlyTopDocs
    // device): phase 1 ranks within (pile, doc_id % salts) and keeps
    // topK+1 per salt group — the pile spreads over `salts` tasks
    // instead of funneling through one window partition — and phase 2
    // ranks the ≤ (topK+1)·salts survivors. Exact: each of a pile's
    // global topK+1 smallest ids is among its own salt group's topK+1
    // smallest, so phase 1 never drops a phase-2 winner (the
    // replica-fixture + giant-pile specs pin report equality). The
    // salt pass is CONDITIONAL on pile size m > salts·(topK+1) — the
    // point below which a salt group cannot even fill topK+1 and the
    // extra exchange+sort is pure overhead (the first, unconditional
    // cut measured q_winnow_matches_topk 52.6 → 92–180 s at factor 30,
    // where the replica-PREFIX corpus makes every pile a near-
    // singleton: 150k piles paid the double window for nothing).
    val salts = 8
    val byId = Window.partitionBy("dg").orderBy("doc_id")
    val bySalt = Window.partitionBy(col("dg"), pmod(col("doc_id"), lit(salts)))
      .orderBy("doc_id")
    val membH = memb
      .join(p.pileShared.select("dg"), Seq("dg"), "left_semi")
      .join(p.piles.select(col("dg"), col("m")), "dg")
    val saltCutover = salts * (topK + 1)
    val shortSmall = membH.filter(col("m") <= saltCutover)
      .withColumn("mrn", row_number().over(byId))
      .filter(col("mrn") <= topK + 1).drop("mrn", "m")
    val shortBig = membH.filter(col("m") > saltCutover)
      .withColumn("srn", row_number().over(bySalt))
      .filter(col("srn") <= topK + 1).drop("srn")
      .withColumn("mrn", row_number().over(byId))
      .filter(col("mrn") <= topK + 1).drop("mrn", "m")
    val short = shortSmall.unionAll(shortBig)
      .transform(Materialize(_)) // cross + self candidate sides read it
    val symH = hp.select(col("dg_a").as("dg"), col("dg_b").as("pdg"), col("n_shared"))
      .unionAll(hp.select(col("dg_b").as("dg"), col("dg_a").as("pdg"), col("n_shared")))
    val crossCand = symH
      .join(short.select(col("dg").as("pdg"), col("doc_id").as("partner"),
        col("n_fp").as("n_partner")), "pdg")
      .select(col("dg"), col("partner"), col("n_shared").as("part_h"),
        col("n_partner"))
    val selfCand = selfPiles(p, 1)
      .join(short.select(col("dg"), col("doc_id").as("partner"),
        col("n_fp").as("n_partner")), "dg")
      .select(col("dg"), col("partner"), col("r").as("part_h"),
        col("n_partner"))
    // pile-keyed heavy candidates expand to every member (≤ topK+1
    // rows per partner pile per member — answer-bounded)
    val heavyDocCand = crossCand.unionAll(selfCand)
      .join(memb.select("dg", "doc_id"), "dg")
      .select(col("doc_id"), col("partner"), col("part_h"),
        lit(0L).as("part_l"), col("n_partner"))
    // light candidates carry their own L part plus the pair's H part:
    // block lookup for cross-pile partners, own |H| for intra-pile
    // (the block frame has no self-pairs by construction)
    val lookupH = hp.select(col("dg_a").as("dgx"), col("dg_b").as("dgy"),
        col("n_shared").as("hshare"))
      .unionAll(hp.select(col("dg_b").as("dgx"), col("dg_a").as("dgy"),
        col("n_shared").as("hshare")))
    val lp = lightPairs(p)
    val symL = lp.select(col("ida").as("doc_id"), col("idb").as("partner"),
        col("lshare"))
      .unionAll(lp.select(col("idb").as("doc_id"), col("ida").as("partner"),
        col("lshare")))
    val lightDocCand = symL
      .join(memb.select(col("doc_id"), col("dg").as("dgx")), "doc_id")
      .join(memb.select(col("doc_id").as("partner"), col("dg").as("dgy"),
        col("n_fp").as("n_partner")), "partner")
      .join(p.pileShared.select(col("dg").as("dgx"), col("r").as("own_h")),
        Seq("dgx"), "left")
      .join(lookupH, Seq("dgx", "dgy"), "left")
      .select(col("doc_id"), col("partner"),
        when(col("dgx") === col("dgy"), coalesce(col("own_h"), lit(0L)))
          .otherwise(coalesce(col("hshare"), lit(0L))).as("part_h"),
        col("lshare").as("part_l"), col("n_partner"))
    heavyDocCand.unionAll(lightDocCand)
      .filter(col("partner") =!= col("doc_id"))
      .groupBy("doc_id", "partner")
      .agg((max("part_h") + sum("part_l")).as("n_shared"),
        max("n_partner").as("n_partner"))
      .filter(col("n_shared") >= minShared)
      .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("n_shared").desc, col("partner").asc)))
      .filter(col("rnk") <= topK)
      .join(memb.select(col("doc_id"), col("n_fp").as("n_doc")), "doc_id")
      .select(col("doc_id"), col("rnk"), col("partner"), col("n_shared"),
        col("n_doc"), col("n_partner"),
        PortableRound.r(col("n_shared").cast("double")
          / least(col("n_doc"), col("n_partner")).cast("double"), 4)
          .as("overlap_frac"))
      .orderBy("doc_id", "rnk")
  }

  /** The (doc_id, fp) frame with stop-fingerprints (df > maxDf) removed
    * — the shared head of [[winnowMatches]] and [[winnowComponents]]:
    * everything downstream (sizes, pairs, overlap_frac, the component
    * node set) reads the capped frame, so a dropped boilerplate hash
    * neither fans pairs nor inflates denominators.
    */
  private def cappedFps(fingerprints: DataFrame, maxDf: Int): DataFrame = {
    val raw = fingerprints
      .select(col("doc_id"), col("fp")).distinct()
      .transform(Materialize(_)) // df rollup + capped join read it
    val dfreq = raw.groupBy("fp").agg(count(lit(1)).as("df"))
    raw.join(dfreq.filter(col("df") <= maxDf).select("fp"), "fp")
      .transform(Materialize(_)) // sizes + both join sides read it
  }

  /** The ≥ minShared match-pair list over a capped fingerprint frame
    * (doc_a < doc_b, with the shared-fp count).
    */
  private def pairsFromCapped(fp: DataFrame, minShared: Int): DataFrame =
    fp.select(col("fp"), col("doc_id").as("doc_a"))
      .join(fp.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Heavy/light pile frames for the winnow match family — see
    * [[winnowPiles]]. All frames are id/int-only.
    */
  private final case class WinnowPiles(membership: DataFrame,
      piles: DataFrame, pileFps: DataFrame, pileShared: DataFrame,
      lightFps: DataFrame)

  /** Document-frequency boundary of [[winnowPiles]]' heavy/light
    * split. PURELY a cost knob — n_shared(a, b) decomposes as
    * |H_a ∩ H_b| + |L_a ∩ L_b| for ANY boundary (each shared fp falls
    * on exactly one side of a global df threshold), so the reported
    * rows are h-invariant (spec-pinned at h ∈ {2, ∞} against the
    * default). 16 balances the two failure modes: light fps fan at
    * most C(h−1, 2) = 105 pairs each (the bounded doc-level join),
    * while fps shared by ≥ 16 docs — replica piles, boilerplate —
    * carry the quadratic mass and must pair at PILE granularity.
    */
  private[graft] val WinnowHeavyDf = 16

  /** Corpus-size boundary of the winnow match family's plan cutover —
    * docs at/below it route through the doc-level fingerprint join,
    * above it through the [[winnowPiles]] heavy/light head. PURELY a
    * cost knob, same contract as [[WinnowHeavyDf]]: both plans emit
    * the identical doc-level report (spec-pinned both ways on the
    * replica fixture). The pile head builds ~10 checkpointed frames
    * regardless of corpus size — fixed overhead that regressed five
    * sf0.1 (5k-doc) queries 2.3–3.3× in round 15 while buying the
    * factor-30/100 win (topk scaling 3.91 → 0.36) — so small corpora
    * take the 3-frame doc-level plan whose worst case the
    * [[WinnowMaxDf]] cap already bounds. 2¹⁴ is the verdict's pile
    * cutover; the probe counts DOCS (≥ piles — the only pile-count
    * probe is the pile head itself), which errs only toward the pile
    * head, exactly the corpora whose size amortizes it.
    */
  private[graft] val WinnowPileCutover = 1L << 14

  /** Per-JVM memo of [[corpusDocs]] probes, keyed by snapshot dir PLUS
    * the parquet directory's (total size, max mtime) footprint — an
    * in-place `write.mode("overwrite")` to a reused path changes the
    * footprint and re-probes, so a rewritten corpus can never ride a
    * stale count into the wrong plan (r16 advice; previously the
    * write-once assumption was only documented). A footprint read is a
    * driver-side directory listing — same cost class as the footer
    * count it guards.
    */
  private val docCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Cache key for [[docCountCache]]: dir + a content hash of the
    * `documents.parquet` listing — file count and every (name, length,
    * mtime) triple feed the hash (r17 advice: the old total-size +
    * max-mtime pair collided on a same-second in-place overwrite that
    * happened to keep the same total byte size; a per-file listing
    * hash only collides if the rewrite reproduces every file name,
    * size, AND second-stamp — at which point the count is the same).
    * Degrades to `0:0` (the plain dir key) when the listing is
    * unavailable, e.g. a non-local filesystem path.
    */
  private def docCountKey(dir: String): String = {
    var n = 0
    var h = 1125899906842597L
    try {
      val d = new java.io.File(dir, "documents.parquet")
      val fs = d.listFiles()
      if (fs != null) {
        java.util.Arrays.sort(fs, new java.util.Comparator[java.io.File] {
          def compare(a: java.io.File, b: java.io.File): Int =
            a.getName.compareTo(b.getName)
        })
        fs.foreach { f =>
          h = h * 31 + f.getName.hashCode
          h = h * 31 + java.lang.Long.hashCode(f.length())
          h = h * 31 + java.lang.Long.hashCode(f.lastModified())
          n += 1
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    s"$dir@$n:$h"
  }

  /** Driver-side corpus-size probe behind the plan cutover. A plan
    * choice cannot be a `when()` on a broadcast constant (the
    * [[graft.operators.Dedup]] simhash trick): that prunes an
    * EXPRESSION branch, but both sides of a plan-level `when` would
    * still execute their full subtrees before the filter — so this is
    * a driver read, the same bounded class as [[Graph]]'s convergence
    * checks and the Artifacts stamp reads. Cost: `count()` over the
    * documents parquet prunes every column and reads row counts from
    * footers (no text decode), memoized per dir.
    */
  private def corpusDocs(spark: SparkSession, dir: String): Long = {
    val key = docCountKey(dir)
    // evict superseded footprints for the same dir (r17 advice: each
    // in-place rewrite minted a new key and the map grew without bound
    // across rewrites in one JVM — one live entry per dir is the
    // intent, the footprint only exists to invalidate it)
    val prefix = dir + "@"
    val it = docCountCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k != key && k.startsWith(prefix)) it.remove()
    }
    docCountCache.computeIfAbsent(key,
      _ => Tables.documents(spark, dir).count()).longValue()
  }

  /** Heavy/light pile head shared by [[winnowMatches]],
    * [[winnowMatchesTopK]] and [[winnowComponents]] (round 15). The
    * r14 probe measured the doc-level fp self-join 3.9× over linear at
    * factor 30: a replica pile of d docs fans d² candidate pairs per
    * shared fp, and the top-k limit ran AFTER that exchange. The exact
    * decomposition that removes it:
    *
    * n_shared(a, b) = |H_a ∩ H_b| + |L_a ∩ L_b|, where H = the doc's
    * capped fps with document frequency ≥ [[WinnowHeavyDf]] and L =
    * those with 2 ≤ df < [[WinnowHeavyDf]] (df = 1 fps can never be
    * shared — they only pad sizes). LIGHT fps self-join at doc level
    * with per-fp fan bounded by C(h−1, 2) — linear however the corpus
    * is duplicated. HEAVY fps join at PILE level: docs with identical
    * H sets collapse to one pile (digest of the sorted heavy set), so
    * a replica pile — whose shared fps all have df ≥ replication ≥ h —
    * is ONE node in the pair join, and |H_a ∩ H_b| is a pure pile-pair
    * quantity. Every caller reconstructs doc-level rows bounded by its
    * ANSWER, merging the two parts by summation (full report), by a
    * max(H-part) + sum(L-part) candidate rollup (top-k), or by
    * rep/member/exception edges (components).
    *
    * Fingerprints compute once per DISTINCT text (md5 text piles —
    * [[Dedup.exactGroups]]' device; the `first(text)` collapse
    * partial-aggregates map-side so replica text crosses the exchange
    * at most once per input partition) and per-fp df is reconstructed
    * exactly as Σ text-pile multiplicity, so the [[WinnowMaxDf]] cap
    * stays the same DOCUMENT-frequency cap and every oracle is
    * unchanged; doc-level equality of all three callers is spec-pinned
    * against the doc-level brute force on a replica-prefix fixture.
    *
    * Frames returned — the pile key `dg` is the pile's MIN MEMBER doc
    * id (the heavy-set digest is remapped right after pile election,
    * so every downstream join/exchange carries 8-byte longs instead of
    * 32-char md5 strings — the first f30 probe of this head spent its
    * time shuffling string keys — and `dg` doubles as the pile's rep
    * for edges/labels): membership (doc_id, dg, n_fp) — one row per
    * doc with ≥ 1 capped fp, its heavy pile, its OWN capped size;
    * piles (dg, m); pileFps (dg, fp) heavy fps; pileShared (dg,
    * r = |H|), piles with H = ∅ absent (callers treat r as 0 — note
    * the H = ∅ pile can be corpus-sized and must never self-pair);
    * lightFps (doc_id, fp).
    */
  private def winnowPiles(spark: SparkSession, dir: String,
      k: Int, w: Int, maxDf: Int,
      heavyDf: Int = WinnowHeavyDf): WinnowPiles = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), md5(col("text")).as("tdg"))
    val tmemb = docs.select("doc_id", "tdg")
      .transform(Materialize(_)) // pile stats + membership + light expansion
    val tpiles = tmemb.groupBy("tdg").agg(count(lit(1)).as("tm"))
    val repTexts = docs.groupBy("tdg").agg(first(col("text")).as("text"))
      .select(col("tdg").as("doc_id"), col("text"))
    val tfp = winnowFpsOf(repTexts, k, w)
      .select(col("doc_id").as("tdg"), col("fp"))
      .transform(Materialize(_)) // df rollup + capped join read it
    val dfreq = tfp.join(tpiles, "tdg")
      .groupBy("fp").agg(sum("tm").as("df")) // exact document frequency
    val tfpCapped = tfp.join(dfreq.filter(col("df") <= maxDf), Seq("fp"))
      .select(col("tdg"), col("fp"), col("df"))
      .transform(Materialize(_)) // stats rollup + heavy/light sides read it
    // per text pile: capped size + the canonical HEAVY-set digest
    // (collect_list skips the when()'s nulls — light/unique fps stay out)
    val tstats = tfpCapped.groupBy("tdg")
      .agg(count(lit(1)).as("n_fp"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(
            when(col("df") >= heavyDf, col("fp")))),
            _.cast("string")))).as("hdg"))
      .transform(Materialize(_)) // membership + pile election read it
    val byDigest = tmemb.join(tstats, "tdg")
      .select("doc_id", "hdg", "n_fp")
      .transform(Materialize(_)) // pile election + remapped membership
    // elect the pile id (min member) per digest, then retire the digest
    val pileIds = byDigest.groupBy("hdg")
      .agg(min("doc_id").as("dg"), count(lit(1)).as("m"))
      .transform(Materialize(_)) // membership remap + piles read it
    val membership = byDigest.join(pileIds.select("hdg", "dg"), "hdg")
      .select("doc_id", "dg", "n_fp")
      .transform(Materialize(_)) // every caller expansion reads it
    val piles = pileIds.select("dg", "m")
    val pileFps = tfpCapped.filter(col("df") >= heavyDf)
      .join(tstats.select("tdg", "hdg"), "tdg")
      .join(pileIds.select("hdg", "dg"), "hdg")
      .select("dg", "fp").distinct()
      .transform(Materialize(_)) // |H| rollup + both pair-join sides read it
    val pileShared = pileFps.groupBy("dg").agg(count(lit(1)).as("r"))
      .transform(Materialize(_)) // self piles + H-lookups read it
    val lightFps = tfpCapped
      .filter(col("df") >= 2 && col("df") < heavyDf)
      .join(tmemb, "tdg")
      .select("doc_id", "fp")
      .transform(Materialize(_)) // both light-join sides read it
    WinnowPiles(membership, piles, pileFps, pileShared, lightFps)
  }

  /** Cross-pile HEAVY match blocks over a [[winnowPiles]] head — one
    * row per unordered heavy-pile pair sharing ≥ minH heavy
    * fingerprints: (dg_a < dg_b, n_shared = |H_a ∩ H_b|); pile ids are
    * min member doc ids, so they double as the pair's reps. Worst-case
    * per-fp pile fan is C(df, 2) ≤ C([[WinnowMaxDf]], 2) — the SAME
    * cap-bounded worst case as the doc-level join (a heavy fp spread
    * over singleton piles with distinct H sets collapses nothing);
    * the decomposition's win is the DUPLICATION case, where docs
    * sharing their heavy set are one node however many there are.
    */
  private def pilePairs(p: WinnowPiles, minH: Int): DataFrame =
    p.pileFps.select(col("fp"), col("dg").as("dg_a"))
      .join(p.pileFps.select(col("fp"), col("dg").as("dg_b")), Seq("fp"))
      .filter(col("dg_a") < col("dg_b"))
      .groupBy("dg_a", "dg_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minH)

  /** Heavy piles whose members share their H set with EACH OTHER —
    * size ≥ 2 and ≥ minH heavy fps (two members share exactly H plus
    * whatever light fps the light join scores separately): (dg, m,
    * r = intra-pile heavy share). The corpus-sized H = ∅ pile is
    * excluded by the pileShared inner join (no row at r = 0).
    */
  private def selfPiles(p: WinnowPiles, minH: Int): DataFrame =
    p.piles.filter(col("m") >= 2)
      .join(p.pileShared, "dg")
      .filter(col("r") >= minH)

  /** Doc-level LIGHT match pairs — the bounded half of the split:
    * (ida < idb, lshare = |L_a ∩ L_b|). Each light fp has df <
    * [[WinnowHeavyDf]], so its pair fan is < C(h−1, 2) regardless of
    * corpus duplication.
    */
  private def lightPairs(p: WinnowPiles): DataFrame =
    p.lightFps.select(col("fp"), col("doc_id").as("ida"))
      .join(p.lightFps.select(col("fp"), col("doc_id").as("idb")), Seq("fp"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("lshare"))

  /** [[winnowMatches]]' doc-level form from a pre-computed fingerprint
    * frame — the tuning sweep pairs each cell without re-running the
    * selection, and the pile-collapse spec uses it as the brute-force
    * reference ([[winnowMatches]] itself routes through [[winnowPiles]]
    * since round 15; this form pairs DOCUMENTS, quadratic under
    * replica piles, correct at tuning/fixture scale).
    */
  private[graft] def matchesFromFingerprints(fingerprints: DataFrame,
      minShared: Int, maxDf: Int = WinnowMaxDf,
      pairBudget: Long = Long.MaxValue, guardCaller: String = "",
      guardTwins: String = ""): DataFrame = {
    val fp = cappedFps(fingerprints, maxDf)
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val report = pairsFromCapped(fp, minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        PortableRound.r(col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 4).as("overlap_frac"))
    // guard FIRST, sort LAST (the pile path's contract, r16 advice):
    // the budget count must refuse before the quadratic output is
    // globally sorted, so the guard wraps the pre-sort frame
    Dedup.pairBudgetGuard(report, pairBudget, guardCaller, guardTwins)
      .orderBy("doc_a", "doc_b")
  }

  /** [[winnowMatchesTopK]]'s doc-level form (the r14 body) — the
    * small-corpus side of the plan cutover: the same fp-keyed pair
    * join as [[matchesFromFingerprints]], symmetrized and ranked by a
    * WindowGroupLimit (map-side partial top-k per doc, never a global
    * sort), with the size joins AFTER the limit so only ≤ topK·n_docs
    * rows reach scoring. Quadratic under replica piles — correct at
    * ≤ [[WinnowPileCutover]] corpora, where the [[WinnowMaxDf]] cap
    * bounds its worst case.
    */
  private[graft] def topkFromFingerprints(fingerprints: DataFrame,
      minShared: Int, maxDf: Int, topK: Int): DataFrame = {
    val fp = cappedFps(fingerprints, maxDf)
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // both endpoint-size joins read it
    val pairs = pairsFromCapped(fp, minShared)
    val sym = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("partner"), col("n_shared"))
      .unionAll(pairs
        .select(col("doc_b").as("doc_id"), col("doc_a").as("partner"), col("n_shared")))
    val byShared = Window.partitionBy("doc_id")
      .orderBy(col("n_shared").desc, col("partner").asc)
    sym.withColumn("rnk", row_number().over(byShared))
      .filter(col("rnk") <= topK)
      .join(sizes, "doc_id")
      .join(sizes.select(col("doc_id").as("partner"), col("n").as("n_partner")),
        "partner")
      .select(col("doc_id"), col("rnk"), col("partner"), col("n_shared"),
        col("n").as("n_doc"), col("n_partner"),
        PortableRound.r(col("n_shared").cast("double")
          / least(col("n"), col("n_partner")).cast("double"), 4).as("overlap_frac"))
      .orderBy("doc_id", "rnk")
  }

  /** [[winnowComponents]]' doc-level form (the r14 body) — the
    * small-corpus side of the plan cutover: edges straight from the
    * capped pair list, components over (long, long) doc ids, one row
    * per doc with ≥ 1 surviving fingerprint.
    */
  private[graft] def componentsFromFingerprints(fingerprints: DataFrame,
      minShared: Int, maxDf: Int): DataFrame = {
    val fp = cappedFps(fingerprints, maxDf)
    val edges = pairsFromCapped(fp, minShared)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    fp.select("doc_id").distinct()
      .join(Graph.connectedComponents(edges)
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        (col("cluster_rep") === col("doc_id")).cast("int").as("is_rep"))
      .orderBy("doc_id")
  }

  /** Per-document novelty — the fraction of a doc's winnow fingerprints
    * seen in NO other document (df = 1 over the corpus fingerprint
    * frame): the inverse-boilerplate signal novelty-aware sampling and
    * curriculum ordering read per doc, where [[winnowSourceMatrix]]
    * reads the same sharing per provenance cell. 1.0 = every selected
    * passage is unique to this doc; low scores mark template-heavy
    * documents whose token mass double-counts. Docs below w+k−1 tokens
    * have no fingerprints and are absent (the winnowing contract).
    * Scale shape: the fingerprint frame's df rollup is one int64-key
    * shuffle of the ~2/(w+1)-thinned selection; the doc rollup joins fp
    * frequency back by the same key — text never leaves the scan.
    */
  def winnowNovelty(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame = {
    val fp = winnowFingerprints(spark, dir, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .transform(Materialize(_)) // df rollup + doc rollup read it
    val dfreq = fp.groupBy("fp").agg(count(lit(1)).as("df"))
    fp.join(dfreq, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_fp"), col("n_unique"),
        PortableRound.r(col("n_unique").cast("double")
          / col("n_fp").cast("double"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Per-source passage-sharing matrix — [[winnowMatches]] rolled up to
    * provenance cells: for each unordered source pair (normalized with
    * least/greatest — doc-id order does not order sources), how many
    * match pairs cross it and how much fingerprint overlap they carry.
    * The passage-level complement to
    * [[graft.operators.CorpusStats.sourceVocabOverlap]] (set overlap)
    * and [[graft.operators.CorpusStats.sourceDivergence]] (distribution
    * distance): two crawls can differ in vocabulary statistics yet
    * mirror each other's pages verbatim — this matrix is where that
    * shows. A heavy diagonal cell means within-source boilerplate; a
    * heavy off-diagonal cell means cross-source mirroring, the classic
    * double-count a mixture designer deduplicates before weighting.
    * Scale shape: the matches pair list plus two slim (doc_id, source)
    * metadata joins and a grid-sized rollup.
    */
  def winnowSourceMatrix(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared,
      maxDf: Int = WinnowMaxDf): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    winnowMatches(spark, dir, k, w, minShared, maxDf)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_shared")).as("total_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Train→holdout leakage audit — the eval-integrity check a pipeline
    * runs AFTER splitting: [[winnowMatches]] pairs (shared-passage
    * signal, not just whole-doc dups — at this corpus there are zero
    * exact duplicates, yet 36 passage-sharing pairs cross the boundary
    * at sf0.01) filtered to pairs where one side landed in train and the
    * other in val/test under [[hashSplitDocs]]' deterministic split.
    * Every such pair means a holdout document whose content the model
    * saw in training — the quiet eval inflation decontamination-vs-
    * external-benchmarks cannot catch because both sides live in the
    * SAME corpus. Remediation is the caller's policy (drop the holdout
    * doc, or re-split by content key instead of id).
    *
    * Scale shape: winnowMatches' fp-keyed join plus two broadcast-sized
    * (doc_id, split) attachments — the split column is pure id
    * arithmetic, so it costs a projection, not a scan.
    */
  def splitLeakage(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW, minShared: Int = WinnowMinShared,
      maxDf: Int = WinnowMaxDf): DataFrame = {
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"),
        splitLabelExpr(col("doc_id")).as("split"))
    winnowMatches(spark, dir, k, w, minShared, maxDf)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter((col("split_a") === "train" && col("split_b") =!= "train") ||
        (col("split_b") === "train" && col("split_a") =!= "train"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("n_shared"), col("overlap_frac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact transitive clusters over the winnow match graph — the
    * component form [[winnowMatches]]' scaladoc routes callers to for
    * the CLUSTER answer (pair lists answer "who shares with whom";
    * dedup policy needs "which docs form one boilerplate family"):
    * [[Graph.connectedComponents]] over the ≥ minShared match edges, so
    * a passage-sharing CHAIN a~b~c whose ends share nothing directly
    * still lands in ONE cluster labeled by its minimum doc id.
    * Completes the {pairs, components} pattern MinHash
    * ([[Dedup.minhashComponents]]), SimHash
    * ([[Dedup.simhashComponents]]) and embeddings
    * ([[Similarity.semanticComponents]]) already follow — and unlike
    * all of those, this one is ORACLE-CHECKED: the fingerprint hashes
    * are portable, so the DuckDB twin computes the same clusters via a
    * recursive transitive closure (the repo's first cross-engine-
    * verified connected components).
    *
    * Output: one row per doc with ≥ 1 surviving (df ≤ maxDf)
    * fingerprint — (doc_id, cluster_rep, is_rep); isolated docs label
    * themselves. Docs below w+k−1 tokens have no fingerprints and are
    * absent (the winnowing contract).
    *
    * Scale shape: the edge frame decomposes over [[winnowPiles]]'
    * heavy/light split (round 15) into three linear pieces — (i) REP
    * edges between heavy piles whose H-share alone clears minShared
    * (every cross member pair qualifies, so one pile-level edge
    * stands in for all of them), (ii) MEMBER→rep edges inside piles
    * whose own |H| clears minShared (members share their whole H set,
    * so the pile is mutually connected — ≤ 1 edge per doc), and (iii)
    * EXCEPTION doc edges for pairs that only clear the floor with
    * their light part (H part < minShared ≤ H + L), which the bounded
    * light join enumerates. Components run O(log n) alternating-star
    * rounds over (long, long) doc-id edges — the [[Graph]] cost model
    * — with no quadratic piece at any replication factor; doc-level
    * equality is spec-pinned against the brute-force edge set on a
    * replica-prefix fixture. Corpora at/below `pileCutover` docs skip
    * the pile head for the doc-level form
    * ([[componentsFromFingerprints]], see [[WinnowPileCutover]]).
    */
  def winnowComponents(spark: SparkSession, dir: String,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared,
      maxDf: Int = WinnowMaxDf,
      heavyDf: Int = WinnowHeavyDf,
      pileCutover: Long = WinnowPileCutover): DataFrame = {
    if (corpusDocs(spark, dir) <= pileCutover)
      return componentsFromFingerprints(
        winnowFingerprints(spark, dir, k, w), minShared, maxDf)
    val p = winnowPiles(spark, dir, k, w, maxDf, heavyDf)
    val memb = p.membership
    val hp = pilePairs(p, 1)
    val repEdges = hp.filter(col("n_shared") >= minShared)
      .select(col("dg_a").as("src"), col("dg_b").as("dst"))
    val memberEdges = selfPiles(p, minShared)
      .join(memb.select("dg", "doc_id"), "dg")
      .filter(col("doc_id") =!= col("dg")) // dg IS the pile's min member
      .select(col("doc_id").as("src"), col("dg").as("dst"))
    // light-boosted pairs whose heavy part alone does NOT qualify
    // (pairs with H part >= minShared are already connected above)
    val lookupH = hp.select(col("dg_a").as("dgx"), col("dg_b").as("dgy"),
        col("n_shared").as("hshare"))
      .unionAll(hp.select(col("dg_b").as("dgx"), col("dg_a").as("dgy"),
        col("n_shared").as("hshare")))
    val exceptionEdges = lightPairs(p)
      .join(memb.select(col("doc_id").as("ida"), col("dg").as("dgx")), "ida")
      .join(memb.select(col("doc_id").as("idb"), col("dg").as("dgy")), "idb")
      .join(p.pileShared.select(col("dg").as("dgx"), col("r").as("own_h")),
        Seq("dgx"), "left")
      .join(lookupH, Seq("dgx", "dgy"), "left")
      .withColumn("hpart",
        when(col("dgx") === col("dgy"), coalesce(col("own_h"), lit(0L)))
          .otherwise(coalesce(col("hshare"), lit(0L))))
      .filter(col("hpart") < minShared &&
        col("hpart") + col("lshare") >= minShared)
      .select(col("ida").as("src"), col("idb").as("dst"))
    val edges = repEdges.unionAll(memberEdges).unionAll(exceptionEdges)
    memb.select("doc_id") // one row per doc with ≥ 1 capped fp — the old contract
      .join(Graph.connectedComponents(edges)
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        (col("cluster_rep") === col("doc_id")).cast("int").as("is_rep"))
      .orderBy("doc_id")
  }

  /** Batch member of the snapshot-refresh family for the winnow
    * modality — the missing complement of the streaming
    * [[graft.streaming.StreamingFeatures.winnowGateStream]], completing
    * the {exact [[Dedup.dedupAgainstDigests]], fuzzy
    * [[Dedup.minhashDedupAgainst]], semantic
    * [[Similarity.semanticDedupAgainst]], winnow (this)} × {batch,
    * stream} incremental matrix: per batch document, how many of its
    * winnow fingerprints hit the FROZEN corpus census, with the same
    * minShared verdict the streaming gate applies (a doc the gate would
    * drop reports dropped = 1 here — lockstep spec-pinned). Fingerprints
    * come from the batch window form via [[winnowFpsOf]] (per-doc equal
    * to the streaming gate's [[winnowFpArray]], spec-pinned), so batch
    * and stream score identically at linear per-doc cost.
    *
    * Contract mirror of the family: ONLY corpus matches drop — in-batch
    * passage sharing is [[winnowMatches]]' job. Docs without
    * fingerprints (NULL text / below w+k−1 tokens) report n_fp = 0 and
    * pass, the gate's content-neutral rule. overlap_frac here is
    * n_shared / n_fp (containment against the batch doc — the frozen
    * side is a census, not a document), vs the pairwise min-denominator
    * of [[winnowMatches]].
    *
    * Scale shape: the census join is a left-semi on the int64 fp key
    * against the ~2/(w+1)-thinned frozen selection — both sides shuffle
    * (fp, doc_id) pairs only, text never leaves the scan. No stop-
    * fingerprint cap needed: the census is DISTINCT fps, so each batch
    * fingerprint matches at most once (no d² fan to bound).
    */
  def winnowMatchesAgainst(batchDocs: DataFrame, frozenFps: DataFrame,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared): DataFrame = {
    val fp = winnowFpsOf(batchDocs, k, w)
      .transform(Materialize(_)) // sizes + census probe read it
    val census = frozenFps.select(col("fp")).distinct()
    val hits = fp.join(census, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    batchDocs.select("doc_id")
      .join(sizes, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_fp").isNotNull,
          PortableRound.r(coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_fp").cast("double"), 4))
          .otherwise(lit(0.0)).as("overlap_frac"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).cast("int").as("dropped"))
      .orderBy("doc_id")
  }

  /** Oracle-checkable demo registration of [[winnowMatchesAgainst]]:
    * frozen snapshot = docs with `doc_id % knownModulus = 0`, batch =
    * the rest (the [[Dedup.incrementalExact]] device, winnow edition).
    * Each side re-scans parquet with its modulus filter pushed down;
    * the frozen side collapses to its fingerprint census scan-side.
    * Oracle-checkable because the fp hashes are the portable
    * [[winnowFingerprints]] family — unlike the xxhash-seeded
    * incremental siblings.
    */
  def winnowIncremental(spark: SparkSession, dir: String,
      knownModulus: Int = Dedup.DefaultKnownModulus,
      k: Int = WinnowK, w: Int = WinnowW,
      minShared: Int = WinnowMinShared): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val isKnown = pmod(col("doc_id"), lit(knownModulus)) === 0
    winnowMatchesAgainst(
      docs.filter(!isKnown),
      winnowFpsOf(docs.filter(isKnown), k, w).select("fp"),
      k, w, minShared)
  }

  /** Tuning grid for [[winnowTuning]]: the w axis at fixed k (nested —
    * selections at larger w are a provable SUBSET of smaller w, see the
    * sweep scaladoc) plus two k variants at the registered w. Structural
    * in the generated oracle.
    */
  val WinnowGrid: Seq[(Int, Int)] = Seq((3, 2), (3, 4), (3, 8), (4, 4), (5, 4))

  /** Measured winnowing sweep — the (k, w) analogue of the LSH banding /
    * ANN probe sweeps: per grid cell, the fingerprint count (selection
    * density) and the match-pair count at the registered minShared. The
    * w axis is provably monotone at fixed k: a (w+1)-window's min is the
    * min of its two overlapping w-windows' minima, so the selected set
    * at larger w is a SUBSET of the smaller-w selection per document —
    * counts and (via shared-set inclusion) pair counts can only fall as
    * w grows. That inclusion is corpus-independent (spec-pinned); the
    * absolute densities are not — re-run the sweep on your corpus before
    * moving k/w, as with every sweep in this engine. The guarantee
    * threshold the cells trade against is w + k − 1 shared tokens.
    */
  def winnowTuning(spark: SparkSession, dir: String,
      grid: Seq[(Int, Int)] = WinnowGrid,
      minShared: Int = WinnowMinShared): DataFrame =
    // r19: the registered spelling is the w-CASCADE — at fixed k, the
    // min over a 2w-window is the min of its two overlapping w-window
    // minima on complete windows, so ONE exchange+sort per k serves the
    // whole doubling w axis via chained least/lead instead of one
    // window pass per cell. r18 measured this trade the other way
    // (per-cell won by ~10% warm) because under parallelism-first AQE
    // the per-cell window passes ran as concurrent stages on idle
    // cores; with r19's size-driven partition coalescing the verdict's
    // predicted inversion holds at BOTH core counts (r19 A/B, medians:
    // 8 cores 7.32 → 6.74 s, 32 cores 6.56 → 6.27 s, rows identical on
    // every run). The per-cell spelling below stays as the independent
    // spelling CorpusOpsSpec checks the cascade against.
    winnowTuningCascade(spark, dir, grid, minShared)

  /** The pre-r19 per-cell spelling of [[winnowTuning]] — retained as
    * the independent spelling the registered cascade is checked against
    * (CorpusOpsSpec asserts row identity on the registered grid and on a
    * non-doubling one). The cascade does not call it: its fallback for k
    * groups whose w axis is not a doubling chain is its own branch, kept
    * separate so the two spellings stay independent. One tokenize+hash
    * pass per k, shared by every w cell (the r11 bench caught the naive
    * per-cell form re-hashing the corpus five times); then one window
    * pass per cell.
    */
  private[graft] def winnowTuningPerCell(spark: SparkSession, dir: String,
      grid: Seq[(Int, Int)] = WinnowGrid,
      minShared: Int = WinnowMinShared): DataFrame =
    grid.groupBy(_._1).toSeq.flatMap { case (k, cells) =>
      val grams = Materialize(winnowGrams(spark, dir, k))
      cells.map { case (_, w) =>
        val fp = winnowSelect(grams, w)
          .transform(Materialize(_)) // count + pair side read it
        tuningCell(fp, k, w, minShared)
      }
    }.reduce(_.unionByName(_)).orderBy("k", "w")

  /** One (k, w) tuning row from a fingerprint frame — shared by both
    * [[winnowTuning]] spellings so they cannot diverge on the
    * aggregation side.
    */
  private def tuningCell(fp: DataFrame, k: Int, w: Int,
      minShared: Int): DataFrame =
    fp.agg(count(lit(1)).as("n_fingerprints"))
      .crossJoin(broadcast(
        matchesFromFingerprints(fp, minShared).agg(count(lit(1)).as("n_pairs"))))
      .select(lit(k).as("k"), lit(w).as("w"),
        col("n_fingerprints"), col("n_pairs"))

  /** The w-cascade engine of [[winnowTuning]] (r19; adopted from the
    * r18 experiment after the verdict-ask-#6 re-adjudication at
    * constrained cores): per k, compute the smallest-w window minima
    * once, then derive each doubled w's minima by
    * `least(sel_w[i], sel_w[i + w])` — the min-composition identity on
    * complete windows. `least(sel, lead(sel, w))` is null-ignoring, but
    * every null lead lands on a row the complete-window filter
    * (`pidx ≤ ng − w`) drops, so the identity only ever reads defined
    * minima. A k group whose sorted w axis is not a doubling chain
    * falls back to the per-cell window passes — same output either way.
    */
  private[graft] def winnowTuningCascade(spark: SparkSession, dir: String,
      grid: Seq[(Int, Int)] = WinnowGrid,
      minShared: Int = WinnowMinShared): DataFrame =
    grid.groupBy(_._1).toSeq.flatMap { case (k, cells) =>
      val ws = cells.map(_._2).sorted
      if (!ws.zip(ws.tail).forall { case (a, b) => b == 2 * a }) {
        val grams = Materialize(winnowGrams(spark, dir, k))
        ws.map { w =>
          tuningCell(Materialize(winnowSelect(grams, w)),
            k, w, minShared)
        }
      } else {
        val wspec = Window.partitionBy("doc_id").orderBy("pidx")
        val base = winnowGrams(spark, dir, k).withColumn(s"sel${ws.head}",
          min(col("comb")).over(wspec.rowsBetween(0, ws.head - 1)))
        val cascaded = ws.zip(ws.tail).foldLeft(base) { case (d, (wp, w)) =>
          d.withColumn(s"sel$w",
            least(col(s"sel$wp"), lead(col(s"sel$wp"), wp).over(wspec))) }
          .transform(Materialize(_)) // every w cell reads it
        cells.map { case (_, w) =>
          val fp = cascaded.filter(col("pidx") <= col("ng") - w)
            .select(col("doc_id"),
              pmod(col(s"sel$w"), lit(PosPack)).as("pos"),
              expr(s"sel$w div $PosPack").as("fp"))
            .distinct()
            .transform(Materialize(_)) // count + pair side read it
          tuningCell(fp, k, w, minShared)
        }
      }
    }.reduce(_.unionByName(_)).orderBy("k", "w")

  /** Generated DuckDB twin of one [[winnowTuning]] chain: one
    * [[duckWinnowMatchCtes]] chain per (k, w) cell.
    */
  private def winnowTuningSql(grid: Seq[(Int, Int)], minShared: Int): String = {
    val ctes = grid.map { case (k, w) =>
      duckWinnowMatchCtes(k, w, s"c${k}_${w}_", minShared) }
    val cells = grid.map { case (k, w) =>
      s"""SELECT $k AS k, $w AS w,
         |       (SELECT count(*) FROM c${k}_${w}_fpos) AS n_fingerprints,
         |       (SELECT count(*) FROM c${k}_${w}_pairs) AS n_pairs""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${cells.mkString("\nUNION ALL\n")}
       |ORDER BY k, w""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_sample_composition" -> {
      val rateCase = "CASE lang " + SampleRates.toSeq.sorted.map {
        case (l, r) => s"WHEN '$l' THEN $r"
      }.mkString(" ") + " ELSE 0 END"
      s"""WITH lab AS (
        |  SELECT doc_id, $duckSplitCase AS split FROM documents),
        |corpus AS (SELECT split, count(*) AS n_corpus FROM lab GROUP BY split),
        |qs AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY ($duckIdFold * 3266489917) % 1000000007, doc_id)
        |             AS rk
        |    FROM documents) WHERE rk <= $DefaultQuota),
        |ss AS (
        |  SELECT doc_id FROM documents
        |  WHERE ($duckIdFold * 2246822519) % 1000 < $rateCase),
        |qc AS (SELECT split, count(*) AS n FROM qs JOIN lab USING (doc_id)
        |       GROUP BY split),
        |sc AS (SELECT split, count(*) AS n FROM ss JOIN lab USING (doc_id)
        |       GROUP BY split)
        |SELECT * FROM (
        |  SELECT 'quota' AS sampler, c.split,
        |         CAST(coalesce(qc.n, 0) AS BIGINT) AS n_sampled,
        |         CAST(c.n_corpus AS BIGINT) AS n_corpus,
        |         floor(CAST(coalesce(qc.n, 0) AS DOUBLE) / c.n_corpus
        |               * 1000000 + 0.5) / 1000000.0 AS sampled_frac
        |  FROM corpus c LEFT JOIN qc ON qc.split = c.split
        |  UNION ALL
        |  SELECT 'stratified', c.split,
        |         CAST(coalesce(sc.n, 0) AS BIGINT),
        |         CAST(c.n_corpus AS BIGINT),
        |         floor(CAST(coalesce(sc.n, 0) AS DOUBLE) / c.n_corpus
        |               * 1000000 + 0.5) / 1000000.0
        |  FROM corpus c LEFT JOIN sc ON sc.split = c.split)
        |ORDER BY sampler, split""".stripMargin
    },
    "q_fingerprints" ->
      s"""WITH ${Dedup.duckSimhashCtes},
        |ffp AS (
        |  SELECT doc_id,
        |         ${TextHashes.duckFold("text", 131)} * 2147483648
        |           + ${TextHashes.duckFold("text")} AS fp62
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT d.doc_id, f.fp62, s.sh AS simhash
        |FROM documents d
        |LEFT JOIN ffp f USING (doc_id)
        |LEFT JOIN ssh s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_winnow_novelty" ->
      s"""WITH ${duckWinnowCtes()},
        |dfreq AS (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
        |SELECT doc_id, count(*) AS n_fp,
        |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |       floor(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS novelty
        |FROM fp JOIN dfreq USING (fp)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_winnow_source_matrix" ->
      s"""WITH ${duckWinnowMatchCtes()}
        |SELECT least(da.source, db.source) AS source_a,
        |       greatest(da.source, db.source) AS source_b,
        |       count(*) AS n_pairs,
        |       CAST(sum(n_shared) AS BIGINT) AS total_shared
        |FROM pairs
        |JOIN documents da ON da.doc_id = doc_a
        |JOIN documents db ON db.doc_id = doc_b
        |GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin,
    "q_winnow_tuning" -> winnowTuningSql(WinnowGrid, WinnowMinShared),
    // transitive closure via DuckDB recursive CTE: the closure frame is
    // bounded by sum over components of |comp|² — fine at oracle SFs,
    // and the Spark side never materializes it (alternating-star rounds)
    "q_winnow_components" ->
      s"""WITH RECURSIVE $duckWinnowComponentCtes
        |SELECT doc_id, cluster_rep,
        |       CAST(cluster_rep = doc_id AS INT) AS is_rep
        |FROM wlab ORDER BY doc_id""".stripMargin,
    "q_winnow_incremental" ->
      s"""WITH ${duckWinnowCtes()},
        |known AS (SELECT DISTINCT fp FROM fp WHERE ${Dedup.duckIsKnown("doc_id")}),
        |b AS (SELECT doc_id, fp FROM fp WHERE NOT ${Dedup.duckIsKnown("doc_id")}),
        |sz AS (SELECT doc_id, count(*) AS n_fp FROM b GROUP BY doc_id),
        |hit AS (SELECT b.doc_id, count(*) AS n_shared
        |        FROM b JOIN known USING (fp) GROUP BY b.doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(sz.n_fp, 0) AS BIGINT) AS n_fp,
        |       CAST(coalesce(hit.n_shared, 0) AS BIGINT) AS n_shared,
        |       CASE WHEN sz.n_fp IS NOT NULL
        |            THEN floor(CAST(coalesce(hit.n_shared, 0) AS DOUBLE)
        |                 / CAST(sz.n_fp AS DOUBLE) * 10000 + 0.5) / 10000.0
        |            ELSE 0.0 END AS overlap_frac,
        |       CAST(coalesce(hit.n_shared, 0) >= $WinnowMinShared AS INT) AS dropped
        |FROM documents d
        |LEFT JOIN sz ON sz.doc_id = d.doc_id
        |LEFT JOIN hit ON hit.doc_id = d.doc_id
        |WHERE NOT ${Dedup.duckIsKnown("d.doc_id")}
        |ORDER BY d.doc_id""".stripMargin,
    "q_split_leakage" ->
      s"""WITH ${duckWinnowMatchCtes()},
        |sp AS (SELECT doc_id, $duckSplitCase AS split FROM documents)
        |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, n_shared,
        |       $duckOverlapFrac AS overlap_frac
        |FROM pairs
        |JOIN sizes za ON za.doc_id = doc_a
        |JOIN sizes zb ON zb.doc_id = doc_b
        |JOIN sp sa ON sa.doc_id = doc_a
        |JOIN sp sb ON sb.doc_id = doc_b
        |WHERE (sa.split = 'train' AND sb.split <> 'train')
        |   OR (sb.split = 'train' AND sa.split <> 'train')
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_winnow_matches" ->
      s"""WITH ${duckWinnowMatchCtes()}
        |SELECT doc_a, doc_b, n_shared, za.n AS n_a, zb.n AS n_b,
        |       $duckOverlapFrac AS overlap_frac
        |FROM pairs
        |JOIN sizes za ON za.doc_id = doc_a
        |JOIN sizes zb ON zb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_winnow_matches_topk" ->
      s"""WITH ${duckWinnowMatchCtes()},
        |sym AS (
        |  SELECT doc_a AS doc_id, doc_b AS partner, n_shared FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS doc_id, doc_a AS partner, n_shared FROM pairs),
        |rk AS (
        |  SELECT doc_id, partner, n_shared,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY n_shared DESC, partner) AS rnk
        |  FROM sym)
        |SELECT rk.doc_id, rnk, partner, n_shared,
        |       za.n AS n_doc, zb.n AS n_partner,
        |       $duckOverlapFrac AS overlap_frac
        |FROM rk
        |JOIN sizes za ON za.doc_id = rk.doc_id
        |JOIN sizes zb ON zb.doc_id = rk.partner
        |WHERE rnk <= $WinnowTopK
        |ORDER BY rk.doc_id, rnk""".stripMargin,
    "q_winnow_fingerprints" ->
      s"""WITH ${duckWinnowCtes()}
        |SELECT doc_id, pos, fp FROM fpos
        |ORDER BY doc_id, pos""".stripMargin,
    "q_charset_profile" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS n_chars,
        |       CAST(sum(coalesce(length(text)
        |           - length(regexp_replace(text, '[0-9]', '', 'g')), 0)) AS BIGINT)
        |         AS digit_chars,
        |       CAST(sum(coalesce(length(text)
        |           - length(regexp_replace(text, ' ', '', 'g')), 0)) AS BIGINT)
        |         AS space_chars,
        |       CAST(sum(coalesce(length(text)
        |           - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')), 0)) AS BIGINT)
        |         AS nonascii_chars,
        |       CAST(sum(coalesce(length(text)
        |           - length(regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g')), 0))
        |         AS BIGINT) AS control_chars,
        |       CAST(sum(CASE WHEN regexp_matches(text, '[^\x00-\x7f]')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_nonascii,
        |       CAST(sum(CASE WHEN contains(text, chr(65533))
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_mojibake,
        |       CASE WHEN sum(coalesce(length(text), 0)) > 0
        |            THEN floor(CAST(sum(coalesce(length(text)
        |                   - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')), 0)) AS DOUBLE)
        |                 / CAST(sum(coalesce(length(text), 0)) AS DOUBLE) * 1000000 + 0.5)
        |               / 1000000.0
        |            ELSE 0.0 END AS nonascii_frac
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_collocations" ->
      s"""WITH toks AS (
         |  SELECT string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL),
         |uni AS (
         |  SELECT tok, count(*) AS c
         |  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
         |bi AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM (
         |    SELECT w[i] AS w1, w[i + 1] AS w2
         |    FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2))
         |  GROUP BY w1, w2 HAVING count(*) >= $CollocMinCount)
         |SELECT w1, w2, c_ab,
         |       floor(CAST(c_ab * c_ab * n_total AS DOUBLE)
         |             / CAST(u1.c * u2.c AS DOUBLE) * 10000 + 0.5) / 10000.0 AS score
         |FROM bi
         |JOIN uni u1 ON u1.tok = bi.w1
         |JOIN uni u2 ON u2.tok = bi.w2
         |CROSS JOIN n
         |ORDER BY score DESC, w1, w2 LIMIT $CollocTopK""".stripMargin,
    "q_token_regex" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_regex_tokens,
        |       len(regexp_extract_all(text, '[0-9]+')) AS n_number_runs,
        |       len(string_split(text, ' ')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars_measured,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       floor(CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
        |             * 10000 + 0.5) / 10000.0 AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_scores" ->
      s"""SELECT doc_id, lang,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       $duckStopRatio AS stopword_ratio,
         |       floor(CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
         |             * 10000 + 0.5) / 10000.0 AS avg_token_len,
         |       CASE WHEN $duckQualityOk THEN 1 ELSE 0 END AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_gopher_rules" ->
      s"""WITH $duckGopherCte
         |SELECT doc_id, n_tokens, mean_token_len, symbol_ratio, alpha_frac,
         |       n_stop_hits, $duckGopherOk AS gopher_ok
         |FROM g ORDER BY doc_id""".stripMargin,
    "q_gopher_funnel" ->
      s"""WITH $duckGopherCte
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_null_text,
         |       CAST(sum(CASE WHEN n_tokens IS NOT NULL AND n_tokens
         |                          NOT BETWEEN $GopherMinTokens AND $GopherMaxTokens
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
         |       CAST(sum(CASE WHEN mean_token_len IS NOT NULL AND
         |                          mean_token_len NOT BETWEEN 3.0 AND 10.0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_len,
         |       CAST(sum(CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS fail_symbol,
         |       CAST(sum(CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS fail_alpha,
         |       CAST(sum(CASE WHEN n_stop_hits < $GopherRequiredHits
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
         |       CAST(sum($duckGopherOk) AS BIGINT) AS n_pass
         |FROM g""".stripMargin,
    "q_quality_sweep" ->
      s"""WITH cfg AS (
         |  SELECT min_tokens, CAST(min_ratio AS DOUBLE) AS min_ratio
         |  FROM (VALUES ${QualityGrid.map { case (t, r) => s"($t, $r)" }.mkString(", ")})
         |       t(min_tokens, min_ratio)),
         |s AS (SELECT len(string_split(text, ' ')) AS nt,
         |             $duckStopRatio AS sr
         |      FROM documents)
         |SELECT min_tokens, min_ratio,
         |       CAST(sum(CASE WHEN nt >= min_tokens AND sr >= min_ratio
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |       floor(CAST(sum(CASE WHEN nt >= min_tokens AND sr >= min_ratio
         |                          THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*) * 1000000 + 0.5) / 1000000.0 AS pass_frac
         |FROM s CROSS JOIN cfg
         |GROUP BY min_tokens, min_ratio
         |ORDER BY min_tokens, min_ratio""".stripMargin,
    "q_hash_split" ->
      s"""WITH split AS (
         |  SELECT lang, $duckSplitCase AS split
         |  FROM documents)
         |SELECT lang, split, count(*) AS n
         |FROM split GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q_quota_sample" ->
      s"""WITH keyed AS (
         |  SELECT source, doc_id,
         |         ($duckIdFold * 3266489917) % 1000000007 AS sample_key
         |  FROM documents),
         |ranked AS (
         |  SELECT source, doc_id, sample_key,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY sample_key, doc_id) AS rk
         |  FROM keyed)
         |SELECT source, CAST(rk AS INT) AS rk, doc_id, sample_key
         |FROM ranked WHERE rk <= $DefaultQuota
         |ORDER BY source, rk""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE ($duckIdFold * 2246822519) % 1000 <
         |      CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 800 WHEN 'es' THEN 800
         |                WHEN 'fr' THEN 800 WHEN 'zh' THEN 800 ELSE 0 END
         |ORDER BY doc_id""".stripMargin,
    "q_repetition_scores" ->
      """WITH cnt AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       floor(CAST(count(*) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000.0
        |         AS distinct_ratio,
        |       floor(CAST(max(c) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000.0
        |         AS top_token_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ngram_repetition" ->
      s"""WITH ${duckNgramRepCtes(RepetitionNs)}
         |SELECT doc_id, n, n_grams, top_frac AS top_gram_frac,
         |       dup_frac AS dup_gram_frac
         |FROM m ORDER BY doc_id, n""".stripMargin,
    "q_repetition_gate" -> {
      val topCols = RepTopMax.map { case (n, _) =>
        s"max(CASE WHEN n = $n THEN top_frac END) AS top${n}_frac" }
        .mkString(",\n         ")
      val verdict = RepTopMax.map { case (n, mx) =>
        s"coalesce(w.top${n}_frac, 0) <= $mx" }
        .mkString("\n             AND ")
      s"""WITH ${duckNgramRepCtes(RepTopMax.map(_._1) :+ 5)},
         |w AS (
         |  SELECT doc_id,
         |         $topCols,
         |         max(CASE WHEN n = 5 THEN dup_frac END) AS dup5_frac
         |  FROM m GROUP BY doc_id)
         |SELECT d.doc_id, w.top2_frac, w.top3_frac, w.top4_frac, w.dup5_frac,
         |       CASE WHEN d.text IS NOT NULL
         |             AND $verdict
         |             AND coalesce(w.dup5_frac, 0) <= $RepDup5Max
         |            THEN 1 ELSE 0 END AS rep_ok
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_vocab_top100" ->
      """SELECT tok AS token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "q_lang_id_ngram" ->
      """SELECT doc_id, lang AS labeled_lang,
        |       CAST(coalesce(list_sum(list_transform(range(1, length(text)),
        |         i -> ((unicode(text[i]) % 256) * 31 + unicode(text[i+1]) % 256) % 7)), 0)
        |         AS BIGINT) AS profile_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id, lang AS labeled_lang,
         |       $duckStopRatio AS en_score,
         |       CASE WHEN $duckStopRatio >= 0.02
         |            THEN 'en' ELSE 'und' END AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin
  )

  /** The word-n-gram repetition metrics of [[ngramRepetition]] as
    * DuckDB CTEs ending in `m(doc_id, n, n_grams, top_frac, dup_frac)`:
    * one row per (doc, n) for each n in `ns` the doc is long enough for.
    * One SELECT per gram size: range(1, len−n+2) is empty when the doc
    * is shorter than n, so short docs drop guard-free.
    */
  private def duckNgramRepCtes(ns: Seq[Int]): String = {
    val gramSel = ns.map(n =>
      s"""  SELECT doc_id, n_chars, $n AS n,
         |         array_to_string(t[i:i+${n - 1}], ' ') AS gram
         |  FROM (SELECT doc_id, n_chars, t,
         |               unnest(range(1, len(t) - ${n - 2})) AS i
         |        FROM toks)""".stripMargin).mkString("\n  UNION ALL\n")
    s"""toks AS (
       |  SELECT doc_id, length(replace(text, ' ', '')) AS n_chars,
       |         string_split(text, ' ') AS t
       |  FROM documents WHERE text IS NOT NULL),
       |grams AS (
       |$gramSel),
       |cnt AS (
       |  SELECT doc_id, n_chars, n, gram, count(*) AS c
       |  FROM grams GROUP BY doc_id, n_chars, n, gram),
       |top AS (
       |  SELECT doc_id, n, c, length(gram) - (n - 1) AS glen,
       |         row_number() OVER (PARTITION BY doc_id, n
       |                            ORDER BY c DESC, length(gram) DESC,
       |                                     gram DESC) AS rn
       |  FROM cnt),
       |agg AS (
       |  SELECT doc_id, n_chars, n, CAST(sum(c) AS BIGINT) AS n_grams,
       |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
       |           AS dup_c
       |  FROM cnt GROUP BY doc_id, n_chars, n),
       |m AS (
       |  SELECT a.doc_id, a.n, a.n_grams,
       |         CASE WHEN a.n_chars > 0 THEN
       |           floor(CAST(t.c * t.glen AS DOUBLE) / a.n_chars * 10000
       |                 + 0.5) / 10000.0 END AS top_frac,
       |         floor(CAST(a.dup_c AS DOUBLE) / a.n_grams * 10000 + 0.5)
       |           / 10000.0 AS dup_frac
       |  FROM agg a JOIN top t ON t.doc_id = a.doc_id AND t.n = a.n
       |                       AND t.rn = 1)""".stripMargin
  }

  /** The [[withGopherColumns]] metrics as the DuckDB CTE `g`: one row
    * per document with its text and the five rule metrics.
    */
  private def duckGopherCte: String =
    s"""g AS (
      |  SELECT doc_id, text,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         floor(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |               / len(string_split(text, ' ')) * 10000 + 0.5)
      |           / 10000.0 AS mean_token_len,
      |         floor(CAST((length(text) - length(replace(text, '#', '')))
      |                    + (length(text) - length(replace(text, '...', ''))) / 3
      |                    AS DOUBLE)
      |               / len(string_split(text, ' ')) * 10000 + 0.5)
      |           / 10000.0 AS symbol_ratio,
      |         floor(CAST(len(list_filter(string_split(text, ' '),
      |                                    t -> regexp_matches(t, '[a-zA-Z]')))
      |                    AS DOUBLE)
      |               / len(string_split(text, ' ')) * 10000 + 0.5)
      |           / 10000.0 AS alpha_frac,
      |         CASE WHEN text IS NOT NULL
      |              THEN len(list_filter($duckStopwords,
      |                     w -> list_contains(string_split(text, ' '), w)))
      |              END AS n_stop_hits
      |  FROM documents)""".stripMargin

  /** The five-rule Gopher verdict over [[duckGopherCte]]'s columns. */
  private def duckGopherOk: String =
    s"""CASE WHEN n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens
       |          AND mean_token_len BETWEEN 3.0 AND 10.0
       |          AND symbol_ratio <= 0.1
       |          AND alpha_frac >= 0.8
       |          AND n_stop_hits >= $GopherRequiredHits
       |     THEN 1 ELSE 0 END""".stripMargin

  /** The winnow selection chain as DuckDB CTEs, every name prefixed
    * with `pre`: `th` the per-doc token hashes (the portable fold), `g`
    * the packed k-gram stream (gram hash · 2³² + position), `win` each
    * w-window's minimum, `fpos` the selected (doc_id, pos, fp) set and
    * `fp` its distinct (doc_id, fp) pairs — the oracle spelling of
    * [[winnowGramsOf]] + [[winnowSelect]] at any (k, w).
    */
  private[operators] def duckWinnowCtes(k: Int = WinnowK, w: Int = WinnowW,
      pre: String = ""): String =
    s"""${pre}th AS (
      |  SELECT doc_id,
      |         list_transform(string_split(text, ' '), t -> ${TextHashes.duckFold("t")}) AS th
      |  FROM documents WHERE text IS NOT NULL),
      |${pre}g AS (
      |  SELECT doc_id, len(th) - ${k - 1} AS ng, p,
      |         (list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, p, p + ${k - 1})),
      |            (a, b) -> (a * $GramMult + b) % $FoldM) * $PosPack
      |          + (p - 1)) AS comb
      |  FROM ${pre}th, unnest(range(1, len(th) - ${k - 1} + 1)) AS t(p)
      |  WHERE len(th) >= $k),
      |${pre}win AS (
      |  SELECT doc_id, ng, p,
      |         min(comb) OVER (PARTITION BY doc_id ORDER BY p
      |                         ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel
      |  FROM ${pre}g),
      |${pre}fpos AS (
      |  SELECT DISTINCT doc_id, CAST(sel % $PosPack AS BIGINT) AS pos,
      |         CAST(sel // $PosPack AS BIGINT) AS fp
      |  FROM ${pre}win WHERE p <= ng - ${w - 1}),
      |${pre}fp AS (SELECT DISTINCT doc_id, fp FROM ${pre}fpos)""".stripMargin

  /** [[duckWinnowCtes]] followed by the cross-doc match chain: `dfq`
    * each fp's document frequency, `fpc` the fps under the
    * [[WinnowMaxDf]] cap, `sizes` each doc's capped fp count and `pairs`
    * every doc pair sharing at least `minShared` capped fps (`n_shared`).
    */
  private[operators] def duckWinnowMatchCtes(k: Int = WinnowK, w: Int = WinnowW,
      pre: String = "", minShared: Int = WinnowMinShared): String =
    s"""${duckWinnowCtes(k, w, pre)},
      |${pre}dfq AS (SELECT fp, count(*) AS df FROM ${pre}fp GROUP BY fp),
      |${pre}fpc AS (SELECT f.doc_id, f.fp
      |  FROM ${pre}fp f JOIN ${pre}dfq d ON d.fp = f.fp WHERE d.df <= $WinnowMaxDf),
      |${pre}sizes AS (SELECT doc_id, count(*) AS n FROM ${pre}fpc GROUP BY doc_id),
      |${pre}pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |  FROM ${pre}fpc a JOIN ${pre}fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= $minShared)""".stripMargin

  /** The winnow-components CTE chain ([[duckWinnowMatchCtes]] → recursive
    * transitive closure → per-doc min-id label `wlab`), shared by the
    * q_winnow_components oracle and the Curation passage-stage oracle.
    * Must follow a `WITH RECURSIVE` keyword. CTE names are w-prefixed so
    * they cannot collide with a composing oracle's own chain.
    */
  private[operators] def duckWinnowComponentCtes: String =
    s"""${duckWinnowMatchCtes(pre = "w")},
      |we AS (SELECT doc_a AS a, doc_b AS b FROM wpairs
      |       UNION ALL SELECT doc_b, doc_a FROM wpairs),
      |wreach AS (
      |  SELECT a, b FROM we
      |  UNION
      |  SELECT r.a, we.b FROM wreach r JOIN we ON we.a = r.b WHERE we.b <> r.a),
      |wlab AS (
      |  SELECT n.doc_id,
      |         least(n.doc_id, coalesce(min(r.b), n.doc_id)) AS cluster_rep
      |  FROM (SELECT DISTINCT doc_id FROM wfpc) n
      |  LEFT JOIN wreach r ON r.a = n.doc_id
      |  GROUP BY n.doc_id)""".stripMargin

  /** A winnow pair's overlap: shared fps over the smaller doc's capped
    * fp count (`za`/`zb` are the two docs' `sizes` rows), 4 dp.
    */
  private def duckOverlapFrac: String =
    "floor(CAST(n_shared AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE) " +
      "* 10000 + 0.5) / 10000.0"

  private[operators] def duckStopwords: String = duckArr(stopwords)

  /** DuckDB twin of Spark's pmod(x, 2^31) fold: DuckDB's signed %
    * goes negative for negative x, where pmod does not — wrap to the
    * non-negative residue so the engines agree on every value.
    */
  private[operators] def duckPmod31(x: String): String =
    s"((($x) % 2147483648) + 2147483648) % 2147483648"

  private[operators] def duckIdFold: String = duckPmod31("doc_id")

  /** DuckDB twin of [[splitLabelExpr]]. */
  private[operators] def duckSplitCase: String =
    s"CASE WHEN ($duckIdFold * 2654435761) % 100 < $SplitTrainPct THEN 'train' " +
      s"WHEN ($duckIdFold * 2654435761) % 100 < ${SplitTrainPct + SplitValPct} " +
      "THEN 'val' ELSE 'test' END"

  /** DuckDB twin of [[qualityOk]] at the registered thresholds, as a
    * predicate over the `text` column (NULL text is NULL, which every
    * `CASE WHEN` reads as a failure).
    */
  private[operators] def duckQualityOk: String =
    s"len(string_split(text, ' ')) >= $QualityMinTokens " +
      s"AND $duckStopRatio >= $QualityMinRatio"

  /** DuckDB twin of [[stopwordRatio]]. */
  private[operators] def duckStopRatio: String =
    s"floor(CAST(len(list_filter(string_split(text, ' '), " +
      s"t -> list_contains($duckStopwords, t))) AS DOUBLE) " +
      "/ len(string_split(text, ' ')) * 10000 + 0.5) / 10000.0"

  private def duckArr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")
}
