package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.PortableRound

/** Corpus-composition statistics per language — the profile a data owner
  * reads before deciding mixing weights: vocabulary size, hapax share
  * (Zipf tail mass), head concentration (Zipf head mass), and type-token
  * ratio. Public background: Zipf's law / Heaps' law corpus diagnostics
  * as run over C4/Pile-style corpora.
  *
  * Everything is integer counts plus single divisions (PortableRound
  * 6 dp) — no transcendentals, so the whole output is hash-exact
  * cross-engine with no caveats.
  *
  * Scale shape: one wordcount shuffle to (lang, token, n) with map-side
  * combine — the aggregate frame is vocabulary-sized per lang (Heaps'
  * law: sublinear in corpus size) — then a per-lang top-k window over
  * that frame (row_number + filter compiles to WindowGroupLimit: per-
  * partition heaps, no full sort materialization) and a per-lang rollup.
  * The corpus itself is touched exactly once.
  */
object CorpusStats {

  /** Head size for the concentration ratio. 5, not the conventional 100:
    * the synthetic vocabulary is 31 tokens, and a head that swallows the
    * whole vocabulary would make the ratio a constant 1.0 (vacuous). The
    * operator takes any k; the oracle interpolates THIS constant.
    */
  val DefaultHeadK = 5

  /** Per-lang corpus profile:
    * (lang, n_docs, n_tokens, n_distinct, n_hapax, hapax_frac,
    *  head_frac, type_token_ratio).
    * hapax_frac = hapax types / distinct types (tail mass by TYPE);
    * head_frac = top-k token occurrences / all occurrences (head mass by
    * OCCURRENCE); type_token_ratio = distinct types / occurrences.
    */
  def corpusStats(spark: SparkSession, dir: String,
      headK: Int = DefaultHeadK): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))

    // per-lang doc counts ride the same scan in a real pipeline; here a
    // second slim aggregate over (lang) keeps the wordcount frame pure
    val docs = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))

    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token").asc)
    val headed = counts
      .withColumn("rk", row_number().over(w))
      .groupBy("lang")
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("rk") <= headK, col("n")).otherwise(0L)).as("head_tokens"))

    headed.join(docs, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_distinct"),
        col("n_hapax"),
        PortableRound.r(col("n_hapax").cast("double") / col("n_distinct"), 6)
          .as("hapax_frac"),
        PortableRound.r(col("head_tokens").cast("double") / col("n_tokens"), 6)
          .as("head_frac"),
        PortableRound.r(col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))
      .orderBy("lang")
  }

  /** Registered mixture temperature. 0.5 EXACTLY: `sqrt` is an IEEE-754
    * correctly-rounded primitive, bit-identical across engines, so the
    * oracle holds; any other α goes through `pow`, whose last-ulp
    * behavior is libm-specific — a non-0.5 deployment keeps the operator
    * and drops the oracle (the documented rows-only path).
    */
  val DefaultAlpha = 0.5

  /** Temperature-smoothed language mixing weights — the multilingual
    * sampling recipe (public: exponent-smoothed sampling of
    * mBERT/XLM/mT5): p_l ∝ n_l^α with α < 1 upsampling tail languages.
    * Output (lang, n_tokens, weight_micros), Σ weight_micros ≈ 10⁶.
    *
    * Determinism: n^α quantizes to integer micros BEFORE the normalizing
    * sum, so the total is an exact integer in any aggregation order (a
    * double Σ n^α would be partial-aggregation-order dependent); the
    * final weight is one double division + the floor(x+0.5) contract.
    * NULL-text docs count 0 tokens (total function).
    *
    * Scale shape: one scan with a map-side size(split) partial sum; the
    * per-lang frame is nLangs rows and the total is a broadcast scalar
    * (the J4 anchor pattern). Nothing data-sized shuffles.
    */
  def mixtureWeights(spark: SparkSession, dir: String,
      alpha: Double = DefaultAlpha): DataFrame = {
    val nTokens = sum(when(col("text").isNotNull,
      size(split(col("text"), " "))).otherwise(0).cast("long"))
    val powQ =
      if (alpha == 0.5) sqrt(col("n_tokens").cast("double"))
      else pow(col("n_tokens").cast("double"), lit(alpha))
    val p = Tables.documents(spark, dir)
      .groupBy("lang").agg(nTokens.as("n_tokens"))
      .withColumn("pq",
        floor(powQ * lit(1000000L) + lit(0.5)).cast("long"))
    val total = p.agg(sum(col("pq")).as("tp"))
    // tp = 0 (every language 0 tokens, e.g. an all-NULL corpus): the
    // 0/0 NaN would THROW at the ANSI long cast — guard keeps the
    // operator total with an all-zero weight row per language (the
    // oracle never sees this corner; real corpora have tokens)
    p.crossJoin(broadcast(total))
      .select(col("lang"), col("n_tokens"),
        when(col("tp") > 0,
          floor(col("pq").cast("double") / col("tp") * lit(1000000L) + lit(0.5))
            .cast("long"))
          .otherwise(lit(0L)).as("weight_micros"))
      .orderBy("lang")
  }

  /** Pairwise source-vocabulary overlap — the domain-overlap matrix a
    * mixture designer reads beside [[mixtureWeights]]: for every source
    * pair, the distinct-token intersection and its Jaccard. High overlap
    * between two sources means their mixture weights double-count a
    * domain; a near-zero row is a genuinely novel domain. One row per
    * unordered pair, zero-intersection pairs included (a LEFT join from
    * the pair frame — an inner join would silently drop exactly the
    * most interesting rows).
    *
    * Scale shape: the exchange carries DISTINCT (source, token) rows —
    * vocabulary-sized, not corpus-sized — and the token-key self-join
    * fans out at most n_sources² rows per token, so no hot-token skew
    * is possible by construction. The source-pair frame is n_sources²
    * driver-trivial rows. Jaccard = inter / (|A| + |B| − inter), one
    * IEEE division of exact int64 counts — oracle-checkable (the
    * [[TextAnalytics.collocations]] determinism argument).
    */
  def sourceVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(TextAnalytics.tokens(col("text"))).as("tok"))
      .distinct()
      .transform(Materialize(_)) // sizes + both join sides read it
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = st.as("a")
      .join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_a"), col("n_b"),
        PortableRound.r(coalesce(col("n_common"), lit(0L)).cast("double")
          / (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))).cast("double"),
          4).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Pairwise Jensen–Shannon divergence (nats) between per-source
    * unigram distributions — the distribution-aware companion to
    * [[sourceVocabOverlap]]'s set overlap: two sources can share 100% of
    * their vocabulary yet use it with very different frequencies, and
    * it's JS distance, not Jaccard, that predicts whether merging them
    * changes a mixture (public recipe: JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M = (P+Q)/2 — Lin 1991).
    *
    * Cross-engine exactness (the [[graft.operators.Perplexity]]
    * technique): each shared-token term
    * p·ln(2p/(p+q)) + q·ln(2q/(p+q)) is computed in double from exact
    * int64 counts and quantized to int64 nanos BEFORE the aggregate sum,
    * so the sum is order-independent; the tokens-only-in-one-source
    * remainder needs no per-token work at all — Σ_{A-only} p =
    * (C_A − overlap_A)/C_A is an exact integer ratio, contributing
    * ln(2)·that (every A-only token's M-mass is p/2 exactly). ln(2) is a
    * hardcoded literal so both engines use the identical constant.
    *
    * Scale shape: identical to [[sourceVocabOverlap]] — the exchange
    * carries (source, token, count) DISTINCT-type rows (vocabulary-
    * sized, Heaps-sublinear), the token-key self-join fans out ≤
    * n_sources² rows per token, and the pair frame is driver-trivial.
    * Zero-overlap pairs surface with jsd = ln 2 (maximum divergence) via
    * the LEFT join, not silently dropped.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val d = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(TextAnalytics.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .transform(Materialize(_)) // totals + both join sides read it
    val totals = d.groupBy("source").agg(sum(col("c")).as("tot"))
    val da = d.join(broadcast(totals), "source")
    val pa = col("ca").cast("double") / col("tot_a").cast("double")
    val pb = col("cb").cast("double") / col("tot_b").cast("double")
    val term = pa * log(lit(2.0) * pa / (pa + pb)) +
      pb * log(lit(2.0) * pb / (pa + pb))
    val ov = da.select(col("source").as("source_a"), col("tok"),
        col("c").as("ca"), col("tot").as("tot_a"))
      .join(da.select(col("source").as("source_b"), col("tok"),
        col("c").as("cb"), col("tot").as("tot_b")),
        Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .withColumn("tq", floor(term * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_overlap"), sum(col("tq")).as("sq"),
        sum(col("ca")).as("oa"), sum(col("cb")).as("ob"))
    val onlyA = (col("tot_a") - coalesce(col("oa"), lit(0L))).cast("double") /
      col("tot_a").cast("double")
    val onlyB = (col("tot_b") - coalesce(col("ob"), lit(0L))).cast("double") /
      col("tot_b").cast("double")
    totals.select(col("source").as("source_a"), col("tot").as("tot_a"))
      .join(totals.select(col("source").as("source_b"), col("tot").as("tot_b")),
        col("source_a") < col("source_b"))
      .join(ov, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        PortableRound.r(
          lit(0.5) * (coalesce(col("sq"), lit(0L)).cast("double") / lit(1.0e9)
            + lit(ln2) * onlyA + lit(ln2) * onlyB),
          6).as("jsd_nats"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source unigram Shannon entropy (nats) — the third column of
    * the mixture-design dashboard beside [[mixtureWeights]] and
    * [[sourceDivergence]]: H = −Σ p·ln p measures within-source lexical
    * diversity (a low-entropy source is template/boilerplate-like and
    * contributes less effective data per token than its size suggests;
    * public background: entropy-based corpus diagnostics in data-mixing
    * literature). Also reports the normalized form H/ln V ∈ [0,1]
    * (1 = uniform over the source's own vocabulary).
    *
    * Same exactness scheme as [[sourceDivergence]]: each token's
    * −p·ln p is computed in double from exact int64 counts and
    * quantized to int64 nanos BEFORE the sum, so the aggregate is
    * order-independent and hash-exact cross-engine. One wordcount
    * shuffle (vocabulary-sized frame), one per-source rollup.
    */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(TextAnalytics.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .transform(Materialize(_)) // totals + term pass read it
    val totals = d.groupBy("source")
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("v"))
    val p = col("c").cast("double") / col("tot").cast("double")
    d.join(broadcast(totals), "source")
      .withColumn("tq", floor(-(p * log(p)) * lit(1.0e9) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("tot").as("n_tokens"), col("v").as("n_distinct"))
      .agg(sum(col("tq")).as("sq"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        PortableRound.r(col("sq").cast("double") / lit(1.0e9), 6)
          .as("entropy_nats"),
        PortableRound.r(
          when(col("n_distinct") > 1,
            (col("sq").cast("double") / lit(1.0e9)) / log(col("n_distinct").cast("double")))
            .otherwise(lit(0.0)), 6).as("entropy_norm"))
      .orderBy("source")
  }

  /** Counter budget for the registered heavy-hitters queries. 30, not
    * the conventional hundreds: the synthetic vocabulary is 31 tokens
    * (see [[DefaultHeadK]]), so m = 30 < |vocab| is the largest budget at
    * which the Misra–Gries cancellation path actually executes on this
    * corpus, and the c·m > N threshold splits the vocabulary non-
    * trivially (16 of 31 tokens pass at sf0.01). The operator takes any
    * m; the oracle interpolates THIS constant. The sketch's guarantee on
    * a vocabulary ≫ m is pinned by SketchSpec on generated Zipf data.
    */
  val DefaultMgCounters = 30

  /** Raw Misra–Gries sketch over document tokens: ≤ m (token,
    * lower_bound) counters, count-descending — the bounded-memory
    * candidate pass of [[heavyHitters]], exposed for inspection.
    * Rows-only by design: which SUB-threshold tokens survive (and their
    * residual counts) depends on input order, which Spark does not fix
    * across partitionings — no engine-independent oracle exists for the
    * raw sketch. Its guarantee (no heavy hitter is ever missing) is what
    * [[heavyHitters]]'s oracle-green exactness rests on, and is pinned
    * directly by SketchSpec.
    */
  def heavyHitterSketch(spark: SparkSession, dir: String,
      m: Int = DefaultMgCounters): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalytics.tokens(col("text"))).as("token"))
      .agg(graft.functions.SketchAggregates.misraGries(col("token"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.lower_bound").as("lower_bound"))

  /** Exact frequent items ("heavy hitters"): every token whose exact
    * count exceeds N/m (strict, integer form c·m > N), computed WITHOUT
    * shuffling the token domain:
    *   scan 1 — [[graft.functions.SketchAggregates.MisraGriesAgg]]
    *     (bounded-memory, partial-agg topology like HLL) yields ≤ m
    *     candidates guaranteed to include every true heavy hitter;
    *   scan 2 — a broadcast semi-tag of the ≤ m candidates, then a
    *     groupBy over (candidate-token | null) — at most m+1 groups in
    *     the exchange regardless of vocabulary size — gives each
    *     candidate's EXACT count plus the exact total N (sum over all
    *     groups including the null catch-all), and the c·m > N filter
    *     drops the sketch's false positives.
    * Result: exactly the frequent-items set, integer-exact, oracle-
    * checkable — while the shuffle carries m+1 rows per task instead of
    * the full vocabulary (the 100 TB wordcount killer). Two corpus scans
    * by design; the sketch frame and the m+1-row aggregate are
    * checkpointed so neither re-runs.
    */
  def heavyHitters(spark: SparkSession, dir: String,
      m: Int = DefaultMgCounters): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextAnalytics.tokens(col("text"))).as("token"))
    val cands = toks
      .agg(graft.functions.SketchAggregates.misraGries(col("token"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), lit(true).as("is_cand"))
    val grouped = toks
      .join(broadcast(cands), Seq("token"), "left")
      .groupBy(when(col("is_cand"), col("token")).as("token"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // total + filtered both read it
    val total = grouped.agg(sum(col("n")).as("n_corpus"))
    grouped.filter(col("token").isNotNull)
      .crossJoin(broadcast(total))
      .filter(col("n") * lit(m.toLong) > col("n_corpus"))
      .select(col("token"), col("n"), col("n_corpus"))
      .orderBy(desc("n"), asc("token"))
  }

  /** Guarantee attestation for [[heavyHitterSketch]] (r17 verdict ask
    * #5): the raw sketch is rows-only by design (sub-threshold survivor
    * sets are arrival-order-dependent), but its GUARANTEE is oracle-
    * expressible — every token with exact n·m > N must appear among the
    * survivors with lower_bound ≤ its exact count. This query emits one
    * row per TRUE heavy hitter (token, exact n, contained 1/0,
    * bound_ok 1/0); the DuckDB oracle computes the same heavy set
    * exactly and emits constant-true flags, so a hash mismatch IS a
    * violated sketch guarantee — the rows-only entry's missing oracle
    * check, recovered. Same predicates as SketchSpec's MG test
    * (containment + lower_bound ≤ truth), now driver-attested per round.
    */
  def heavyHitterSketchGuarantee(spark: SparkSession, dir: String,
      m: Int = DefaultMgCounters): DataFrame = {
    val sketch = heavyHitterSketch(spark, dir, m)
    heavyHitters(spark, dir, m)
      .join(sketch, Seq("token"), "left")
      .select(col("token"), col("n"),
        when(col("lower_bound").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("contained"),
        when(col("lower_bound").isNotNull && col("lower_bound") <= col("n"),
          lit(1L)).otherwise(lit(0L)).as("bound_ok"))
      .orderBy("token")
  }

  /** Per-source data card — the diagnostics capstone beside the
    * curation capstones: one row per source joining the corpus-mass
    * counts and diversity ([[sourceEntropy]]), the charset hygiene frac
    * ([[graft.operators.TextAnalytics.charsetProfile]]), and the
    * within-source passage-sharing ("boilerplate") pair count
    * ([[graft.operators.TextAnalytics.winnowSourceMatrix]] diagonal,
    * 0 when absent). This is the one frame a mixture designer reads
    * per source before setting weights; the constituent operators stay
    * the drill-down path. Sources whose every text is NULL carry no
    * distribution and are outside the card (inner join on the entropy
    * frame — documented contract). The ORACLE is composed from the
    * constituents' already-proven oracle strings, so card and
    * drill-downs cannot desynchronize.
    */
  def sourceDatasheet(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalytics
    val ent = sourceEntropy(spark, dir)
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        col("entropy_nats"))
    val cs = TextAnalytics.charsetProfile(spark, dir)
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("nonascii_frac"))
    val diag = TextAnalytics.winnowSourceMatrix(spark, dir)
      .filter(col("source_a") === col("source_b"))
      .select(col("source_a").as("source"),
        col("n_pairs").as("boilerplate_pairs"))
    ent.join(cs, "source")
      .join(diag, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_tokens"),
        col("n_distinct"), col("entropy_nats"), col("nonascii_frac"),
        coalesce(col("boilerplate_pairs"), lit(0L)).as("boilerplate_pairs"))
      .orderBy("source")
  }

  /** Percentile points for [[lengthProfile]], in integer percent. One
    * constant interpolated into both the operator and its oracle.
    */
  val ProfilePercentiles: Seq[Int] = Seq(10, 50, 90)

  /** Per-source document-length distribution — exact p10/p50/p90 of
    * `n_chars` plus the mean, the "field lengths" row of a dataset
    * datasheet (Gebru et al. 2021) that [[sourceDatasheet]]'s single
    * n_chars total cannot show (two sources with equal totals can hide
    * a short-spam pile behind a long-doc pile).
    *
    * Exactness at scale WITHOUT a per-source sort of the corpus: the
    * classic value-histogram construction — groupBy (source, n_chars)
    * count (the histogram is at most #distinct-lengths rows per source,
    * ≪ n_docs), a cumulative sum over the histogram, then for each
    * percentile p the two order statistics straddling rank p·(n−1)/100
    * read off the cumulative ranges. The corpus is scanned ONCE and
    * shuffles once at histogram granularity with map-side combine; both
    * consumers (cum-sum window, per-source totals) read the
    * checkpointed histogram, and the totals come back as a broadcast
    * n_sources-row frame.
    *
    * Determinism: the interpolated value is computed ENTIRELY in int64
    * micro-units — rank position p·(n−1) split by integer div/mod 100
    * into (lower index, remainder), value_micros = lo·10⁶ +
    * rem·(hi−lo)·10⁴ — the standard linear interpolation with zero
    * floating point, so the column is hash-exact cross-engine (the
    * float `percentile`/`quantile_cont` builtins agree only to last-ulp,
    * which the determinism rules forbid relying on). Mean is likewise
    * integer micros via round-half-up long division.
    */
  def lengthProfile(spark: SparkSession, dir: String,
      percentiles: Seq[Int] = ProfilePercentiles): DataFrame = {
    require(percentiles.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0, 100], got $percentiles")
    // totals derive from the histogram, not a second corpus scan
    val hist = Tables.documents(spark, dir)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .transform(Materialize(_))
    val w = Window.partitionBy("source").orderBy("n_chars")
    val cum = hist
      .withColumn("cum_end", sum(col("c")).over(w))
      .withColumn("cum_start", col("cum_end") - col("c"))
    val tot = hist.groupBy("source").agg(sum(col("c")).as("n"),
      sum(col("n_chars") * col("c")).as("sum_chars"))
    val j = cum.join(broadcast(tot), "source")
    // pos = p·(n−1): lower order-statistic index pos/100, remainder
    // pos%100; a value v with cumulative range [cum_start, cum_end)
    // holds the 0-based order statistics cum_start..cum_end−1.
    def stat(p: Int, idx: Column): Column =
      max(when(idx >= col("cum_start") && idx < col("cum_end"),
        col("n_chars")))
    val pcols = percentiles.flatMap { p =>
      val pos = lit(p.toLong) * (col("n") - 1)
      val loIdx = floor(pos / 100).cast("long")
      Seq(stat(p, loIdx).as(s"lo_$p"),
        stat(p, least(loIdx + 1, col("n") - 1)).as(s"hi_$p"),
        max(pos % 100).as(s"rem_$p"))
    }
    val aggCols = max(col("sum_chars")).as("sum_chars") +: pcols
    val agg = j.groupBy("source")
      .agg(max(col("n")).as("n_docs"), aggCols: _*)
    val outCols = percentiles.map { p =>
      (col(s"lo_$p") * 1000000L +
        col(s"rem_$p") * (col(s"hi_$p") - col(s"lo_$p")) * 10000L)
        .as(s"p${p}_micros")
    }
    agg.select(Seq(col("source"), col("n_docs")) ++ outCols :+
      // round-half-up mean in micros: (2·sum·10⁶ + n) DIV 2n — true
      // integral division (long `/` is double division, exact only
      // below 2⁵³), widened to decimal so sum_chars·2·10⁶ cannot wrap
      // int64 at corpus scale (the DuckDB twin widens to HUGEINT)
      expr("CAST((CAST(sum_chars AS DECIMAL(38,0)) * 2000000 + n_docs)" +
        " DIV (CAST(n_docs AS DECIMAL(38,0)) * 2) AS BIGINT)")
        .as("mean_micros"): _*)
      .orderBy("source")
  }

  /** DuckDB oracle for [[lengthProfile]] — same histogram + integer
    * interpolation, generated from [[ProfilePercentiles]] so operator
    * and oracle cannot desynchronize.
    */
  private[graft] def lengthProfileOracle: String = {
    val pSel = ProfilePercentiles.map { p =>
      s"""max(CASE WHEN ($p*(n-1))//100 >= cum_start AND ($p*(n-1))//100 < cum_end THEN n_chars END) AS lo_$p,
         |    max(CASE WHEN least(($p*(n-1))//100 + 1, n-1) >= cum_start AND least(($p*(n-1))//100 + 1, n-1) < cum_end THEN n_chars END) AS hi_$p,
         |    max(($p*(n-1)) % 100) AS rem_$p""".stripMargin
    }.mkString(",\n    ")
    val pOut = ProfilePercentiles.map { p =>
      s"CAST(lo_$p * 1000000 + rem_$p * (hi_$p - lo_$p) * 10000 AS BIGINT) AS p${p}_micros"
    }.mkString(", ")
    s"""WITH hist AS (
       |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, n_chars, c,
       |         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_end,
       |         sum(c) OVER (PARTITION BY source ORDER BY n_chars) - c AS cum_start
       |  FROM hist),
       |tot AS (
       |  SELECT source, count(*) AS n, sum(n_chars) AS sum_chars
       |  FROM documents GROUP BY 1),
       |agg AS (
       |  SELECT source, max(n) AS n_docs, max(sum_chars) AS sum_chars,
       |    $pSel
       |  FROM cum JOIN tot USING (source)
       |  GROUP BY source)
       |SELECT source, n_docs, $pOut,
       |       CAST((CAST(sum_chars AS HUGEINT) * 2000000 + n_docs)
       |            // (n_docs * 2) AS BIGINT) AS mean_micros
       |FROM agg ORDER BY source""".stripMargin
  }

  private def r6(x: String): String = s"floor($x * 1000000 + 0.5) / 1000000.0"

  /** Per-language exact frequent items — [[heavyHitters]] grouped: the
    * MG aggregate runs per lang group (partial buffers merge within the
    * group, so the N_lang/(m+1) guarantee holds per group), the verify
    * pass broadcast-tags per (lang, token), and the threshold is each
    * language's own corpus mass (c·m > N_lang). Exchange bound is
    * n_langs·(m+1) rows per task — still vocabulary-independent. The
    * per-lang view is what tokenizer/vocab design actually reads: a
    * token can be a heavy hitter in a small language while invisible
    * globally.
    */
  def heavyHittersByLang(spark: SparkSession, dir: String,
      m: Int = DefaultMgCounters): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(TextAnalytics.tokens(col("text"))).as("token"))
    val cands = toks.groupBy("lang")
      .agg(graft.functions.SketchAggregates.misraGries(col("token"), m).as("sk"))
      .select(col("lang"), explode(col("sk")).as("e"))
      .select(col("lang"), col("e.token").as("token"), lit(true).as("is_cand"))
    val grouped = toks
      .join(broadcast(cands), Seq("lang", "token"), "left")
      .groupBy(col("lang"), when(col("is_cand"), col("token")).as("token"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // totals + filtered both read it
    val totals = grouped.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    grouped.filter(col("token").isNotNull)
      .join(broadcast(totals), "lang")
      .filter(col("n") * lit(m.toLong) > col("n_lang"))
      .select(col("lang"), col("token"), col("n"), col("n_lang"))
      .orderBy(col("lang"), desc("n"), asc("token"))
  }

  /** Tumbling-window exact frequent items — the batch face of the
    * streaming MG windowed sketch
    * ([[graft.streaming.StreamingFeatures.heavyHitterStream]], r16
    * verdict ask #6, the q_sessions_stream pattern): the same
    * window × MG two-phase as [[heavyHittersByLang]] with the window
    * end as the group key, so the per-window exact heavy-hitter set
    * the stream's closed-window candidates must contain (the
    * guarantee-based lockstep, spec-pinned in StreamingSpec) is itself
    * a registered, oracle-checkable query. Document event times are
    * the corpus epoch + doc_id seconds — a deterministic, oracle-
    * expressible timestamping of the batch corpus (the documents table
    * carries no ingest time; the derivation is part of the query's
    * contract, stated in the oracle too).
    *
    * Scale shape: scan 1 runs the bounded MG aggregate per window
    * (≤ m+1 counters per window in the exchange); scan 2 broadcast-
    * tags candidates and aggregates ≤ windows·(m+1) groups. The
    * candidate frame grows with the TIME RANGE (windows × m), not the
    * vocabulary or corpus mass — broadcast-sized for any horizon a
    * windowed report is humanly readable at; for an unbounded-horizon
    * sweep, partition the time range and union.
    */
  def heavyHittersWindowed(spark: SparkSession, dir: String,
      m: Int = DefaultMgCounters, windowSec: Int = 300): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(timestamp_millis(lit(1465876800000L) + col("doc_id") * 1000L)
          .as("event_time"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
      .select(window(col("event_time"), s"$windowSec seconds")
          .getField("end").as("window_end"),
        col("token"))
    val cands = toks.groupBy("window_end")
      .agg(graft.functions.SketchAggregates.misraGries(col("token"), m).as("sk"))
      .select(col("window_end"), explode(col("sk")).as("e"))
      .select(col("window_end"), col("e.token").as("token"),
        lit(true).as("is_cand"))
    val grouped = toks
      .join(broadcast(cands), Seq("window_end", "token"), "left")
      .groupBy(col("window_end"), when(col("is_cand"), col("token")).as("token"))
      .agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // totals + filtered both read it
    val totals = grouped.groupBy("window_end").agg(sum(col("n")).as("n_window"))
    grouped.filter(col("token").isNotNull)
      .join(broadcast(totals), "window_end")
      .filter(col("n") * lit(m.toLong) > col("n_window"))
      .select(col("window_end"), col("token"), col("n"), col("n_window"))
      .orderBy(col("window_end"), desc("n"), asc("token"))
  }

  /** `d(source, tok, c)`: each source's whitespace-token counts. */
  private def duckSourceTokenCte: String =
    """d AS (
      |  SELECT source, tok, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE text IS NOT NULL)
      |  GROUP BY source, tok)""".stripMargin

  /** The exact corpus-wide token counts behind the MG heavy-hitter
    * oracles: `c(token, n)` and the one-row total `t(n_corpus)`.
    */
  private def duckHeavyCtes: String =
    """toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
      |t AS (SELECT count(*) AS n_corpus FROM toks)""".stripMargin

  /** Entropy oracle as a named val so the datasheet oracle can embed the
    * SAME string (no self-reference into the `oracles` map during its
    * own initialization).
    */
  private val sourceEntropySql: String =
      s"""WITH $duckSourceTokenCte,
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot, count(*) AS v
        |      FROM d GROUP BY source),
        |s AS (
        |  SELECT d.source, tot, v,
        |         CAST(sum(CAST(floor(
        |             -((CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
        |               * ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)))
        |             * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        |  FROM d JOIN t ON t.source = d.source
        |  GROUP BY 1, 2, 3)
        |SELECT source, tot AS n_tokens, CAST(v AS BIGINT) AS n_distinct,
        |       floor(CAST(sq AS DOUBLE) / 1000000000.0 * 1000000 + 0.5)
        |         / 1000000.0 AS entropy_nats,
        |       CASE WHEN v > 1
        |            THEN floor((CAST(sq AS DOUBLE) / 1000000000.0)
        |                   / ln(CAST(v AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
        |            ELSE 0.0 END AS entropy_norm
        |FROM s ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_length_profile" -> lengthProfileOracle,
    "q_source_entropy" -> sourceEntropySql,
    "q_source_datasheet" ->
      s"""SELECT e.source, c.n_docs, c.n_chars, e.n_tokens, e.n_distinct,
         |       e.entropy_nats, c.nonascii_frac,
         |       CAST(coalesce(m.n_pairs, 0) AS BIGINT) AS boilerplate_pairs
         |FROM ($sourceEntropySql) e
         |JOIN (${graft.operators.TextAnalytics.oracles("q_charset_profile")}) c
         |  ON c.source = e.source
         |LEFT JOIN (${graft.operators.TextAnalytics.oracles("q_winnow_source_matrix")}) m
         |  ON m.source_a = e.source AND m.source_b = e.source
         |ORDER BY e.source""".stripMargin,
    "q_source_divergence" ->
      s"""WITH $duckSourceTokenCte,
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM d GROUP BY source),
        |ov AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS n_overlap,
        |         CAST(sum(CAST(floor((
        |             (CAST(a.c AS DOUBLE) / CAST(ta.tot AS DOUBLE))
        |               * ln(2.0 * (CAST(a.c AS DOUBLE) / CAST(ta.tot AS DOUBLE))
        |                    / ((CAST(a.c AS DOUBLE) / CAST(ta.tot AS DOUBLE))
        |                       + (CAST(b.c AS DOUBLE) / CAST(tb.tot AS DOUBLE))))
        |           + (CAST(b.c AS DOUBLE) / CAST(tb.tot AS DOUBLE))
        |               * ln(2.0 * (CAST(b.c AS DOUBLE) / CAST(tb.tot AS DOUBLE))
        |                    / ((CAST(a.c AS DOUBLE) / CAST(ta.tot AS DOUBLE))
        |                       + (CAST(b.c AS DOUBLE) / CAST(tb.tot AS DOUBLE))))
        |           ) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
        |         CAST(sum(a.c) AS BIGINT) AS oa,
        |         CAST(sum(b.c) AS BIGINT) AS ob
        |  FROM d a
        |  JOIN d b ON a.tok = b.tok AND a.source < b.source
        |  JOIN t ta ON ta.source = a.source
        |  JOIN t tb ON tb.source = b.source
        |  GROUP BY 1, 2)
        |SELECT pa.source AS source_a, pb.source AS source_b,
        |       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
        |       floor(0.5 * ((CAST(coalesce(sq, 0) AS DOUBLE) / 1000000000.0)
        |           + 0.6931471805599453
        |             * (CAST(pa.tot - coalesce(oa, 0) AS DOUBLE) / CAST(pa.tot AS DOUBLE))
        |           + 0.6931471805599453
        |             * (CAST(pb.tot - coalesce(ob, 0) AS DOUBLE) / CAST(pb.tot AS DOUBLE)))
        |         * 1000000 + 0.5) / 1000000.0 AS jsd_nats
        |FROM t pa
        |JOIN t pb ON pa.source < pb.source
        |LEFT JOIN ov ON ov.source_a = pa.source AND ov.source_b = pb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q_heavy_hitters_by_lang" ->
      s"""WITH t AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
         |c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*) AS n_lang FROM t GROUP BY 1)
         |SELECT c.lang AS lang, token, n, n_lang
         |FROM c JOIN tot ON tot.lang = c.lang
         |WHERE n * $DefaultMgCounters > n_lang
         |ORDER BY c.lang, n DESC, token""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH $duckHeavyCtes
         |SELECT token, n, n_corpus FROM c, t
         |WHERE n * $DefaultMgCounters > n_corpus
         |ORDER BY n DESC, token""".stripMargin,
    // the sketch guarantee, attested: the oracle computes the true
    // heavy set and asserts constant-true containment/bound flags —
    // any MG guarantee violation hash-mismatches (r17 verdict ask #5)
    "q_heavy_hitter_sketch_guarantee" ->
      s"""WITH $duckHeavyCtes
         |SELECT token, n, CAST(1 AS BIGINT) AS contained,
         |       CAST(1 AS BIGINT) AS bound_ok
         |FROM c, t WHERE n * $DefaultMgCounters > n_corpus
         |ORDER BY token""".stripMargin,
    // the derived event_time (corpus epoch + doc_id seconds) is part of
    // the query contract — restated here so both engines window the
    // same timeline (the q_doc_counts_5m window-end convention)
    "q_heavy_hitters_windowed" ->
      s"""WITH toks AS (
         |  SELECT to_timestamp(((1465876800 + doc_id) // 300) * 300 + 300)
         |           AT TIME ZONE 'UTC' AS window_end,
         |         unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |c AS (SELECT window_end, token, count(*) AS n
         |      FROM toks GROUP BY 1, 2),
         |t AS (SELECT window_end, count(*) AS n_window
         |      FROM toks GROUP BY 1)
         |SELECT c.window_end, c.token, c.n, t.n_window
         |FROM c JOIN t USING (window_end)
         |WHERE c.n * $DefaultMgCounters > t.n_window
         |ORDER BY window_end, n DESC, token""".stripMargin,
    "q_source_vocab_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |sz AS (SELECT source, count(*) AS n FROM st GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1.source AS source_a, s2.source AS source_b,
        |       CAST(coalesce(i, 0) AS BIGINT) AS n_common,
        |       s1.n AS n_a, s2.n AS n_b,
        |       floor(CAST(coalesce(i, 0) AS DOUBLE)
        |             / CAST(s1.n + s2.n - coalesce(i, 0) AS DOUBLE) * 10000 + 0.5)
        |         / 10000.0 AS jaccard
        |FROM sz s1
        |JOIN sz s2 ON s1.source < s2.source
        |LEFT JOIN inter ON inter.source_a = s1.source AND inter.source_b = s2.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q_corpus_stats" ->
      s"""WITH cnt AS (
         |  SELECT lang, token, count(*) AS n
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  GROUP BY lang, token),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY lang ORDER BY n DESC, token) AS rk
         |  FROM cnt),
         |agg AS (
         |  SELECT lang,
         |         CAST(sum(n) AS BIGINT) AS n_tokens,
         |         count(*) AS n_distinct,
         |         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_hapax,
         |         CAST(sum(CASE WHEN rk <= $DefaultHeadK THEN n ELSE 0 END)
         |              AS BIGINT) AS head_tokens
         |  FROM ranked GROUP BY lang),
         |docs AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
         |SELECT lang, n_docs, n_tokens, n_distinct, n_hapax,
         |       ${r6("CAST(n_hapax AS DOUBLE) / n_distinct")} AS hapax_frac,
         |       ${r6("CAST(head_tokens AS DOUBLE) / n_tokens")} AS head_frac,
         |       ${r6("CAST(n_distinct AS DOUBLE) / n_tokens")} AS type_token_ratio
         |FROM agg JOIN docs USING (lang)
         |ORDER BY lang""".stripMargin,
    "q_mixture_weights" ->
      """WITH t AS (
        |  SELECT lang,
        |         CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY lang),
        |p AS (
        |  SELECT lang, n_tokens,
        |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
        |              AS BIGINT) AS pq
        |  FROM t),
        |tot AS (SELECT CAST(sum(pq) AS BIGINT) AS tp FROM p)
        |SELECT lang, n_tokens,
        |       CAST(floor(CAST(pq AS DOUBLE) / tp * 1000000 + 0.5) AS BIGINT)
        |         AS weight_micros
        |FROM p, tot ORDER BY lang""".stripMargin
  )
}
