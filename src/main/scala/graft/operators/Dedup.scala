package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.{PortableRound, TextHashes}

/** Deduplication suite over the `documents` table — exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup (training-data-pipeline
  * extensions per the builder prompt; public algorithms: Broder 1997
  * resemblance/MinHash, Charikar 2002 SimHash, Leskovec-Rajaraman-Ullman
  * MMDS ch.3 LSH banding).
  *
  * Scale stance: exact dedup is one hash-shuffle on a 16-byte digest (never
  * the full text). MinHash signatures are computed scan-side as pure column
  * algebra (no explode, no shuffle), and only the LSH band keys — k·bands
  * small ints per doc — are shuffled; candidate verification joins are
  * band-bucket-local. That is the 100 TB path: the full-text column never
  * moves between executors.
  */
object Dedup {

  /** Exact duplicate groups by content digest (md5 — same algorithm both
    * engines, so oracle-comparable). Output one row per distinct content:
    * keeper id + multiplicity.
    */
  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_md5")

  /** Exact-dedup summary: corpus size, distinct contents, removable rows. */
  def exactStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))

  /** Word n-gram shingle sets per doc (distinct 3-gram strings). Shared
    * with [[Decontam]] so corpus and benchmark shingles come from ONE
    * formula — a tokenizer change cannot desynchronize the two sides.
    */
  private[operators] def shingled(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    shingledFrom(Tables.documents(spark, dir), n)

  /** Incremental exact dedup — the snapshot-growth case a training
    * pipeline hits on every refresh: corpus snapshot N is frozen
    * (possibly already trained on), and batch N+1 must drop (a) docs
    * whose content already exists in the snapshot, (b) in-batch copies
    * beyond the first (smallest doc_id wins, as everywhere). Decision
    * precedence is pinned: a content hit in the frozen corpus labels
    * EVERY batch copy `corpus` — an in-batch twin never downgrades that
    * to `batch`.
    *
    * Takes digest frames, not text: callers project `md5(text)`
    * scan-side (the demo wrapper below shows the shape), so both join
    * sides shuffle 16-byte digests and the text never moves. The known
    * side is one digest per distinct content — ~16 GB per 10⁹ distinct
    * docs, a plain shuffle-joinable frame at any realistic corpus size;
    * at the extreme, pre-prune scan-side with a Bloom filter of the
    * known digests and keep this exact join as the backstop.
    *
    * NULL digests (null-text docs) are content-less: they never match
    * the corpus and never dedup against each other — every such doc
    * stays in the report as kept, via LEFT joins throughout (an inner
    * election join would silently drop them, since NULL keys never
    * equi-match).
    */
  def dedupAgainstDigests(batch: DataFrame, knownDigests: DataFrame): DataFrame = {
    val known = knownDigests.select(col("content_md5")).distinct()
      .withColumn("in_corpus", lit(1))
    val elect = batch.groupBy("content_md5").agg(min("doc_id").as("keep_id"))
    batch.join(known, Seq("content_md5"), "left")
      .join(elect, Seq("content_md5"), "left")
      .withColumn("dup_of",
        when(col("in_corpus") === 1, "corpus")
          .when(col("doc_id") =!= col("keep_id"), "batch"))
      .withColumn("kept", col("dup_of").isNull.cast("int"))
      .select("doc_id", "content_md5", "dup_of", "kept")
      .orderBy("doc_id")
  }

  /** Registered-query default, interpolated into the oracle below so the
    * two cannot desynchronize.
    */
  val DefaultKnownModulus = 4

  /** DuckDB twin of the known-snapshot test `pmod(id, knownModulus) = 0`
    * at the registered modulus.
    */
  private[operators] def duckIsKnown(id: String): String =
    s"(($id % $DefaultKnownModulus) + $DefaultKnownModulus) % $DefaultKnownModulus = 0"

  /** Oracle-checkable demo registration of [[dedupAgainstDigests]]: the
    * frozen snapshot is the docs with `doc_id % knownModulus = 0`, the
    * batch is everything else. One scan computes every digest (lazy
    * checkpoint — the frame feeds the known projection, the batch
    * side, and the keeper election).
    */
  def incrementalExact(spark: SparkSession, dir: String,
      knownModulus: Int = DefaultKnownModulus): DataFrame = {
    val digests = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .transform(Materialize(_))
    val isKnown = pmod(col("doc_id"), lit(knownModulus)) === 0
    dedupAgainstDigests(
      digests.filter(!isKnown),
      digests.filter(isKnown).select("content_md5"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * releases of the same corpus: per source, how many documents were
    * added, removed, content-changed, or untouched. Identity is
    * `doc_id`; content is the md5 digest (null text digests as the
    * empty string so a null→text edit reads as CHANGED, not added).
    * Scale shape: digests compute scan-side, the full-outer join
    * shuffles (doc_id, 32-char digest, source) only — never text — and
    * the per-source rollup is a grid-sized second exchange.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def dig(df: DataFrame, side: String) = df.select(col("doc_id"),
      col("source").as(s"${side}_source"),
      md5(coalesce(col("text"), lit(""))).as(s"${side}_md5"))
    dig(oldDocs, "old").join(dig(newDocs, "new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged"))
      .groupBy(coalesce(col("new_source"), col("old_source")).as("source"))
      .agg(
        count(when(col("status") === "added", 1)).as("n_added"),
        count(when(col("status") === "removed", 1)).as("n_removed"),
        count(when(col("status") === "changed", 1)).as("n_changed"),
        count(when(col("status") === "unchanged", 1)).as("n_unchanged"))
      .orderBy("source")
  }

  /** Oracle-checkable demo registration of [[snapshotDiff]]: the "old"
    * release is the even-id docs with every 7th text reversed (a
    * deterministic, engine-portable content edit), the "new" release is
    * the ids not divisible by 3 — yielding all four statuses from one
    * table. Production use passes two real snapshot frames.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val old = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        reverse(col("text"))).otherwise(col("text")))
    snapshotDiff(old, docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
  }

  /** The distinct word-n-gram set of a text column as pure column algebra
    * (empty array below n words — the CASE branches evaluate lazily, so
    * the descending sequence() of a short doc never runs). THE single
    * shingle formula: [[shingledFrom]], and through it [[Decontam]] and
    * [[Curation]], plus the streaming hygiene twin all compose it.
    */
  /** The transform core over a pre-split token array — THE one spelling
    * of the shingle formula, composed by both entry points below.
    */
  private def shingleTransform(w: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(0), size(w) - n),
      i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))

  private[graft] def shingleArray(text: Column, n: Int = 3): Column = {
    val w = split(text, " ")
    when(size(w) >= n, shingleTransform(w, n))
      .otherwise(array().cast("array<string>"))
  }

  /** [[shingled]] over an arbitrary (doc_id, lang, text) frame — lets
    * [[Curation.curateDocsFull]] shingle PII-redacted text with the same
    * formula. Docs with fewer than n words carry no shingles and are
    * dropped here (callers left-join and coalesce).
    *
    * The short-doc drop must be a CHEAP predicate (`size(w) >= n`)
    * BEFORE the transform, not `size(shingles) > 0` after it: a filter
    * on the projected alias makes the predicate and the projection each
    * evaluate the transform (no cross-operator subexpression
    * elimination), doubling the suite's most expensive map work — the
    * r6 bench measured q_ngram_jaccard at ~2× exactly this way.
    */
  private[operators] def shingledFrom(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), col("lang"),
        shingleTransform(col("w"), n).as("shingles"))

  /** N-gram Jaccard near-dup pairs with **prefix + positional filtering**
    * (exact, no false negatives — Chaudhuri et al. ICDE'06 / Xiao et al.
    * PPJoin, WWW'08):
    *   - prefix filter: a pair with Jaccard ≥ t must share a shingle
    *     within each doc's prefix of the (globally rarest-first) ordered
    *     shingle list, prefix length = n − ceil(t·n) + 1 — the
    *     frequent-shingle f² pair explosion of the naive exploded
    *     self-join never happens;
    *   - positional filter: for the earliest shared prefix token at
    *     canonical positions (i, j), the overlap is bounded by
    *     1 + min(n_a − i, n_b − j); J ≥ t needs overlap ≥
    *     t·(n_a+n_b)/(1+t), so pairs whose bound falls short are pruned
    *     before verification (lossless: all common tokens sit at
    *     positions ≥ those of the earliest one);
    *   - verification: a cheap intersection over the 8-byte hash arrays
    *     first, then the exact string-set intersection on the few
    *     survivors — the reported `common`/`jaccard` values are always
    *     computed from the strings.
    *
    * Identical output to the naive all-pairs form (the DuckDB oracle
    * computes it naively — results hash-match). Jaccard is a ratio of
    * exact integers → deterministic across engines. Same-lang blocking
    * bounds the space further (standard ER practice).
    *
    * Exactness bound: candidate generation and pre-verification key on
    * xxhash64 digests, so a 64-bit collision between two shingles that
    * CO-OCCUR in a document pair could mis-order a prefix or undercount
    * the hash intersection and drop that pair. P ≈ d²/2⁶⁵ for d distinct
    * shingles per lang partition: ~10⁻⁹ at this SF, and still ≪ 1 until
    * d approaches ~10⁹ per partition. Past that, widen the key to 128
    * bits with a second xxhash64 column seeded CONSTANT-FIRST —
    * xxhash64(lit(SEED), s), never xxhash64(s, lit(SEED)): Spark chains
    * multi-column hashes, so a trailing seed yields a pure function of
    * the first digest and adds zero collision resistance (see
    * Similarity.semanticDedupParts). The plan shape is unchanged.
    */
  /** Default output budget of [[pairBudgetGuard]] — generous enough
    * that every registered correctness run and the factor-30 probe pass
    * untouched (measured f30 ceiling: q_winnow_matches at 10.07 M pair
    * rows), but a factor-100-class invocation (~10⁸⁺ rows) refuses with
    * the bounded twin's name instead of grinding out a quadratic
    * report (r15 verdict ask #8 — the steering rule moved from prose
    * into the API).
    */
  val DefaultPairBudget: Long = 50000000L

  /** Hard size guard for the three pair-LIST audit reports
    * (winnowMatches / minhashLshPairs / ngramJaccardPairs) — the
    * queries whose OUTPUT is the quadratic object. Lazy and in-plan:
    * the pair frame is lazily checkpointed so the count pass and the
    * output read ONE materialization, and the 1-row count evaluates
    * `raise_error` while the guard side of a broadcast join is built —
    * an over-budget report fails fast with an actionable message
    * BEFORE the quadratic output is globally sorted or emitted.
    * `budget = Long.MaxValue` disables (identity).
    */
  private[operators] def pairBudgetGuard(pairs: DataFrame, budget: Long,
      caller: String, twins: String): DataFrame = {
    if (budget == Long.MaxValue) return pairs
    val counted = Materialize(pairs)
    val guard = counted.agg(count(lit(1)).as("__n_pairs"))
      .select(when(col("__n_pairs") > budget,
        raise_error(concat(lit(s"$caller: pair output "),
          col("__n_pairs").cast("string"),
          lit(s" rows exceeds pairBudget=$budget — this report's output is" +
            s" quadratic in duplication by design; use $twins for the" +
            " bounded answer, or raise pairBudget for a deliberate audit"))))
        .otherwise(lit(1L)).as("__pair_guard"))
    // the guard column must be REFERENCED downstream or column pruning
    // deletes the raise_error branch from the broadcast side entirely
    // (caught by the guard spec): the filter is vacuously true on every
    // surviving row but forces the 1-row evaluation
    counted.crossJoin(broadcast(guard))
      .filter(col("__pair_guard") === 1L)
      .drop("__pair_guard")
  }

  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    // The shingle and prefix frames feed both sides of the self-join plus
    // the two verify joins; without materialization the per-doc shingling
    // lineage recomputes ~5x. A lazy [[graft.Materialize]] checkpoint
    // computes each frame ONCE on first use (the downstream plan
    // references one shared RDD, not a re-derived logical subtree) and —
    // unlike persist(), which registers in the session CacheManager and
    // lives until an explicit unpersist — its blocks are freed when the
    // caller's scope closes, or by the ContextCleaner once the query's
    // frames are garbage. Round 1 leaked persist() caches across the
    // whole bench suite (47 queries × warmup+2 runs).
    val sh = shingled(spark, dir).select(
      col("doc_id"), col("lang"), col("shingles"),
      expr("transform(shingles, s -> xxhash64(s))").as("hashes"),
      size(col("shingles")).as("n_sh"))
      .transform(Materialize(_))
    // Join/frequency keys are 8-byte xxhash64 digests of the shingles, not
    // the shingle strings: every shuffle below (document frequency, prefix
    // ranking, candidate self-join) moves longs, and the strings never
    // leave the scan side. Still lossless: the prefix theorem needs only
    // ONE globally consistent total order over tokens ((df, digest) is
    // one), and a 64-bit collision can only ADD a candidate pair — the
    // verify step computes the exact string-set intersection and filters
    // it out. At 100 TB this is the difference between shuffling ~25-byte
    // n-gram text and 8-byte keys.
    val exploded = sh.select(col("doc_id"), col("lang"), col("n_sh"),
      explode(col("hashes")).as("sh_h"))
    val freq = exploded.groupBy("lang", "sh_h").agg(count(lit(1)).as("df"))
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    val prefixes = exploded
      .join(freq, Seq("lang", "sh_h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh_h"))))
      .filter(col("rk") <= prefixLen)
      .select("doc_id", "lang", "sh_h", "n_sh", "rk")
      .transform(Materialize(_))
    // J >= t needs overlap >= t/(1+t)·(n_a+n_b) exactly (lossless form)
    val overlapNeeded = lit(threshold / (1 + threshold)) * (col("a.n_sh") + col("b.n_sh"))
    // Size filtering (also lossless): J >= t forces t·|A| <= |B| <= |A|/t.
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.sh_h") === col("b.sh_h") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") * threshold <= col("b.n_sh") &&
          col("b.n_sh") * threshold <= col("a.n_sh") &&
          // positional filter: overlap <= 1 + min(remaining_a, remaining_b)
          lit(1) + least(col("a.n_sh") - col("a.rk"), col("b.n_sh") - col("b.rk"))
            >= overlapNeeded)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Cheap verify on the 8-byte hash arrays: equal to the true common up
    // to 64-bit collisions between co-occurring shingles (see the
    // exactness bound in the scaladoc), shrinking the set that pays for
    // the exact string intersection below to ~the final answer.
    val preVerified = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("hashes").as("h_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("common_h", size(array_intersect(col("h_a"), col("h_b"))))
      .filter(col("common_h").cast("double") / (col("n_a") + col("n_b") - col("common_h")) >= threshold)
      .select("doc_a", "doc_b")
    val report = preVerified
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      // filter on the EXACT ratio (the prefix/size filters are lossless
      // for true J >= t; filtering on the rounded value could disagree
      // with them for pairs a hair under t that round up)
      .filter(col("common").cast("double") / (col("n_a") + col("n_b") - col("common")) >= threshold)
      .withColumn("jaccard",
        PortableRound.r(col("common").cast("double") / (col("n_a") + col("n_b") - col("common")), 4))
      .select("doc_a", "doc_b", "common", "jaccard")
    pairBudgetGuard(report, pairBudget, "ngramJaccardPairs",
      "Dedup.minhashComponents (cluster answer) or Dedup.dupNgramCoverage (per-doc dup fractions)")
      .orderBy("doc_a", "doc_b")
  }

  /** Registered minhash-LSH defaults (k = bands·rows), interpolated into
    * the generated oracles so operator and twin cannot desynchronize
    * (repo convention). The (6, 2) split is the measured q_lsh_tuning
    * winner.
    */
  val MinhashBands = 6
  val MinhashRows = 2
  val MinhashMinAgree = 0.5

  /** Per-doc MinHash signatures (k=12) + LSH band keys (6 bands × 2 rows).
    * Docs sharing any band bucket are candidate near-dups with Jaccard ≳
    * (1/bands)^(1/rows) ≈ 0.41; the signature-agreement verify step then
    * filters to the report threshold.
    *
    * The k Carter-Wegman minima come from the native
    * [[graft.functions.TextHashes.MinHashSigs]] expression — one pass
    * over the 31-bit-folded shingle hashes with k running minima in
    * registers (the column-algebra k × array_min(transform(...)) form
    * allocated k arrays per row). Knuth-mixed multipliers decorrelate
    * adjacent hash functions; coefficients and values are identical to
    * the original formulation (seeded LSH fixtures pin them).
    */
  def minhashSignatures(spark: SparkSession, dir: String, k: Int = 12): DataFrame =
    minhashSignaturesFrom(shingled(spark, dir), k)

  /** Signatures over an arbitrary shingled frame — lets
    * [[Decontam.fuzzyContamination]] sign the benchmark and corpus sides
    * with the SAME coefficients. Shingle hashes are the repo-wide
    * portable char fold ([[TextHashes.portableFold]], mod 2³¹ — the
    * winnow-family discipline), so the whole signature chain is integer
    * math a DuckDB oracle replays exactly; round 12's xxhash64 input
    * was the one engine-specific step that kept this family rows-only.
    */
  private[operators] def minhashSignaturesFrom(sh: DataFrame, k: Int = 12): DataFrame =
    sh
      .withColumn("shash",
        transform(col("shingles"), s => TextHashes.portableFoldCol(s)))
      .withColumn("sigs", TextHashes.minhashSigsCol(col("shash"), k))
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigs"), i + 1).as(s"mh_$i")): _*)

  /** The LSH band-key structs for a signature row — one struct per band
    * carrying the band index and that band's signature rows VERBATIM
    * (no bucket hashing: the join key is the exact row tuple, so two
    * docs share a bucket iff their band signatures are identical —
    * zero banding-collision false candidates, and nothing for an
    * oracle to reproduce but the signatures themselves). Shared by
    * [[minhashLshPairs]] and [[Decontam.fuzzyContamination]]. At rows=2
    * the key is 20 bytes vs the hashed form's 12 — noise next to the
    * shuffle it feeds.
    */
  private[operators] def bandKeys(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rows).map(r => col(s"mh_${b * rows + r}").as(s"r$r")): _*)
    }

  /** MinHash+LSH near-dup candidate pairs, verified by signature agreement
    * (fraction of equal minhashes estimates Jaccard). Oracle-checked
    * since round 13: portable shingle folds + verbatim band tuples mean
    * the DuckDB twin replays signatures, candidates, and agreement
    * exactly; ScalaTest keeps the seeded near-dup fixtures as behavior
    * pins.
    */
  def minhashLshPairs(spark: SparkSession, dir: String,
      bands: Int = MinhashBands, rows: Int = MinhashRows,
      minAgree: Double = MinhashMinAgree,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val k = bands * rows
    val sig = minhashSignatures(spark, dir, k)
    val bandCols = bandKeys(bands, rows)
    // Materialized once (lazy checkpoint — see ngramJaccardPairs):
    // both sides of the self-join otherwise recompute the full shingling +
    // k minhash transforms, and persist() would leak session-lifetime cache.
    val banded = sig.select(col("doc_id"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"),
      explode(array(bandCols: _*)).as("bk"))
      .transform(Materialize(_))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    val report = cand
      .withColumn("agree",
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($k as double)"))
      .filter(col("agree") >= minAgree)
      .select(col("doc_a"), col("doc_b"), PortableRound.r(col("agree"), 4).as("est_jaccard"))
    pairBudgetGuard(report, pairBudget, "minhashLshPairs",
      "Dedup.minhashComponents (the linear cluster answer)")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash near-dup **components** — the 100 TB form of
    * [[minhashLshPairs]], rendering the web-scale MinHash dedup recipe
    * the public corpus pipelines run (union docs sharing ANY LSH band
    * bucket, transitively, with no pair enumeration and no
    * verification): per band bucket the members star onto the bucket's
    * minimum doc id — Σ bucket-size edges, linear in docs × bands,
    * where the pair list's dense cliques are quadratic (the probe's one
    * superlinear row is exactly that answer growth) — and
    * [[Graph.connectedComponents]] closes the stars into the exact
    * transitive components. A banding collision can merge two
    * dissimilar docs; that is the recipe's deliberate trade, bounded by
    * the banding curve, with [[minhashLshPairs]] as the verified audit
    * view and [[neardupRecall]] watching the recall direction.
    *
    * Output (doc_id, cluster_rep, is_rep), one row per document —
    * cluster_rep is the minimum doc id of the component. Docs outside
    * the shingled domain (NULL text / fewer than 3 tokens, which have
    * no signature) and docs sharing no bucket are their own singleton
    * rep — the empty shingle set never fabricates a cluster.
    * Deterministic: bucket membership is seeded hashing and the CC
    * fixpoint is unique. Oracle-checked since round 13 (portable
    * signatures + a recursive-CTE transitive closure, the
    * [[TextAnalytics.winnowComponents]] discipline); spec-pinned too.
    */
  def minhashComponents(spark: SparkSession, dir: String,
      bands: Int = MinhashBands, rows: Int = MinhashRows): DataFrame = {
    val k = bands * rows
    val sig = minhashSignatures(spark, dir, k)
    // slim (doc_id, 16-byte band key) frame feeds the bucket-min agg
    // AND the edge join: checkpoint so signatures compute once
    val banded = sig.select(col("doc_id"),
        explode(array(bandKeys(bands, rows): _*)).as("bk"))
      .transform(Materialize(_))
    val mins = banded.groupBy("bk").agg(min(col("doc_id")).as("rep"))
    val edges = banded.join(mins, "bk")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("src"), col("doc_id").as("dst"))
      .distinct()
    val comp = Graph.connectedComponents(edges)
      .withColumnRenamed("node", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_rep"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .cast("int").as("is_rep"))
      .orderBy("doc_id")
  }

  /** The unsorted (doc_id, cluster_rep, quality_ok, n_tokens, best_doc,
    * keep) frame shared by [[keepBestDedup]] and [[keepBestStats]]:
    * [[minhashComponents]] closed components joined with the engine's
    * shared quality columns, and per component the canonical member
    * elected by (quality_ok DESC, n_tokens DESC, doc_id ASC) — one
    * `max_by` over a struct key, so the election is a partial-aggregable
    * map-side-combining groupBy, not a window over the full frame.
    */
  private def keepBestFrame(spark: SparkSession, dir: String,
      bands: Int, rows: Int): DataFrame = {
    val comps = minhashComponents(spark, dir, bands, rows)
      .select(col("doc_id"), col("cluster_rep"))
    val quality = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalytics.qualityOk(col("text")).as("quality_ok"),
      when(col("text").isNotNull,
        size(TextAnalytics.tokens(col("text")))).as("n_tokens"))
    // the component pipeline is the expensive side — materialize the
    // joined frame once so the election agg and the flag join don't
    // recompute it (the banded-frame discipline above)
    val joined = comps.join(quality, Seq("doc_id"))
      .transform(Materialize(_))
    // NULL n_tokens (null text) sorts below every real count via the
    // explicit −1 — both engines, no null-ordering dialect dependence
    val best = joined.groupBy("cluster_rep")
      .agg(max_by(col("doc_id"), struct(
        col("quality_ok"),
        coalesce(col("n_tokens"), lit(-1)),
        negate(col("doc_id")))).as("best_doc"))
    joined.join(best, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("quality_ok"),
        col("n_tokens"), col("best_doc"),
        (col("doc_id") === col("best_doc")).cast("int").as("keep"))
  }

  /** Quality-aware canonical selection over MinHash near-dup components
    * (the public FineWeb/RefinedWeb refinement of min-id dedup: when a
    * near-dup cluster collapses to one survivor, keep the BEST member,
    * not the accidental minimum id): each [[minhashComponents]]
    * component elects the member with the highest
    * (quality_ok, n_tokens) — the engine's shared
    * [[TextAnalytics.qualityOk]] gate plus token count as the richness
    * tie-break — with doc_id ASC as the final deterministic tie-break.
    * Output one row per document: its component, its quality columns,
    * the elected canonical (`best_doc`) and the `keep` flag.
    *
    * 100 TB shape: the components computation (band keys + alternating-
    * star CC) dominates and is unchanged; the election adds ONE
    * map-side-combining groupBy on cluster_rep (`max_by` over a struct
    * key — partial aggregation, ≤ one row per component per task
    * exchanged) and one join of that one-row-per-component frame back
    * on cluster_rep, which AQE broadcasts at real cluster counts. No
    * window over the full corpus, no text movement.
    */
  def keepBestDedup(spark: SparkSession, dir: String,
      bands: Int = MinhashBands, rows: Int = MinhashRows): DataFrame =
    keepBestFrame(spark, dir, bands, rows).orderBy("doc_id")

  /** Per-source reduction datasheet of [[keepBestDedup]]: how many
    * documents each source contributes, how many survive quality-aware
    * canonical dedup, and the survival fraction — the "what did dedup
    * cost me per source" number a corpus curation run reports. Output
    * is source-count-sized; the kept fraction is portable-rounded.
    */
  def keepBestStats(spark: SparkSession, dir: String,
      bands: Int = MinhashBands, rows: Int = MinhashRows): DataFrame =
    keepBestFrame(spark, dir, bands, rows)
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        PortableRound.r(
          sum(col("keep")).cast("double") / count(lit(1)), 6).as("kept_frac"))
      .orderBy("source")

  /** Incremental fuzzy dedup — the MinHash member of the
    * snapshot-refresh family, completing the {exact
    * [[dedupAgainstDigests]], semantic [[Similarity
    * .semanticDedupAgainst]], fuzzy-text (this)} × incremental matrix: a
    * batch doc drops when it shares an LSH band bucket with ANY frozen-
    * corpus doc AND their signature agreement (fraction of equal
    * minhashes, the [[minhashLshPairs]] estimator) reaches `minAgree`.
    * Both sides are signed with the SAME Carter-Wegman coefficients
    * (the [[Decontam.fuzzyContamination]] discipline), so a batch doc
    * byte-identical to a frozen doc scores agreement 1.0 in every band.
    *
    * Contract mirror of [[Similarity.semanticDedupAgainst]]: ONLY
    * corpus matches drop — in-batch near-dup copies are out of scope
    * (run [[minhashComponents]]/[[minhashLshPairs]] over the batch for
    * those); output is one row per batch doc with its best frozen match
    * (max agreement, ties to the smaller corpus id) and the verdict.
    * The frozen side is data-proportional, so the band join is a plain
    * shuffle join — no broadcast hint, AQE decides (repo rule) — and
    * both sides shuffle only (doc_id, 12-long signature, 16-byte band
    * key), never text. Candidates are banding-bounded exactly as in
    * [[minhashLshPairs]]; recall follows the banding curve
    * (1 − (1 − J^rows)^bands — the `q_lsh_tuning` sweep applies
    * unchanged). Oracle-checked since round 13 (portable signatures);
    * the fixture spec still pins the exact-twin drop, the corpus-only
    * contract and the kept path.
    */
  def minhashDedupAgainst(batchDocs: DataFrame, corpusDocs: DataFrame,
      bands: Int = MinhashBands, rows: Int = MinhashRows,
      minAgree: Double = MinhashMinAgree): DataFrame = {
    val k = bands * rows
    // contract: (doc_id, text[, lang]) — lang rides through the shared
    // shingle projection but never reaches a signature; default it so
    // slim callers need not carry one
    def banded(docs: DataFrame): DataFrame = {
      val withLang =
        if (docs.columns.contains("lang")) docs
        else docs.withColumn("lang", lit("und"))
      minhashSignaturesFrom(shingledFrom(withLang), k)
        .select(col("doc_id"),
          array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"),
          explode(array(bandKeys(bands, rows): _*)).as("bk"))
    }
    val hits = banded(batchDocs).as("n")
      .join(banded(corpusDocs).as("c"), col("n.bk") === col("c.bk"))
      .select(col("n.doc_id").as("doc_id"), col("c.doc_id").as("corpus_id"),
        col("n.sig").as("sig_n"), col("c.sig").as("sig_c"))
      // multiple shared bands produce identical candidate rows — dedup
      // BEFORE the agreement lambda so each pair pays it once
      .dropDuplicates("doc_id", "corpus_id")
      .withColumn("agree",
        expr(s"size(filter(zip_with(sig_n, sig_c, (x, y) -> x = y), v -> v)) / cast($k as double)"))
      .filter(col("agree") >= minAgree)
      .groupBy("doc_id")
      .agg(max_by(col("corpus_id"), struct(col("agree"), -col("corpus_id")))
        .as("dup_of"), PortableRound.r(max(col("agree")), 4).as("best_est_jaccard"))
    batchDocs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("best_est_jaccard"), lit(0.0)).as("best_est_jaccard"),
        col("dup_of").isNotNull.cast("int").as("dropped"))
      .orderBy("doc_id")
  }

  /** Oracle-checked demo registration of [[minhashDedupAgainst]]:
    * frozen snapshot = docs with `doc_id % knownModulus = 0`, batch =
    * the rest (the [[incrementalExact]] device, fuzzy edition). Each
    * side re-scans parquet with its modulus filter pushed down — never
    * checkpoint text (repo rule); the per-side scan feeds straight into
    * the scan-side shingle/signature projection, after which only
    * signatures move.
    */
  def minhashDedupIncremental(spark: SparkSession, dir: String,
      knownModulus: Int = DefaultKnownModulus,
      bands: Int = MinhashBands, rows: Int = MinhashRows,
      minAgree: Double = MinhashMinAgree): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val isKnown = pmod(col("doc_id"), lit(knownModulus)) === 0
    minhashDedupAgainst(docs.filter(!isKnown), docs.filter(isKnown),
      bands, rows, minAgree)
  }

  /** Block count of a combination key: candidates key on every
    * `CandidateKeyBlocks`-block subset, so a pair touching ≤ maxHamming
    * blocks always leaves one full key subset untouched (pigeonhole).
    * 4 key blocks over 62 bits give ~62·4/(maxHamming+4)-bit keys —
    * ~35 bits at the default maxHamming = 3, vs the 16-bit single-block
    * chunks used through round 13 whose bucket occupancy grew linearly
    * with the distinct-fingerprint count (measured 2.17× over linear at
    * factor 30). With ~35-bit keys, expected occupancy stays ≪ 1 until
    * the distinct-fingerprint count approaches 2³⁵ ≈ 34 B.
    */
  private[operators] val CandidateKeyBlocks = 4

  /** Combination candidate keys for the SimHash near-dup join — the full
    * construction of Manku, Jain & Sarma (WWW'07 §3, "Detecting
    * near-duplicates for web crawling"), replacing the degenerate
    * one-block-per-table variant: split the 62-bit fingerprint into
    * `maxHamming + CandidateKeyBlocks` near-equal blocks and emit one
    * (table, key) struct per [[CandidateKeyBlocks]]-block combination,
    * `key` = the selected blocks' bits concatenated (≤ 62 bits, fits a
    * long). Any pair within `maxHamming` differs in at most `maxHamming`
    * blocks, so at least `CandidateKeyBlocks` blocks are untouched and
    * some combination key matches exactly — the same all-pairs-recall
    * pigeonhole as the 16-bit chunks, at C(7,4) = 35 tables instead of 4
    * but with keys wide enough that buckets stay near-singleton at any
    * realistic corpus. The VERIFIED pair set (candidate ∧ hamming ≤
    * maxHamming) is therefore identical to the chunk scheme's — which is
    * why the DuckDB twins keep replaying the cheaper 4×16 join as the
    * oracle.
    */
  private[operators] def simhashCandidateKeys(sh: Column, maxHamming: Int): Column =
    simhashCandidateKeysOf(sh, maxHamming, CandidateKeyBlocks)

  /** [[simhashCandidateKeys]] at an explicit key width: `keyBlocks` = 1
    * reproduces the pre-r14 4×16-bit chunk tables (C(maxHamming+1, 1)
    * single-block keys — cheap fan-out, buckets fill past ~2¹⁶ distinct
    * fps), `keyBlocks` = [[CandidateKeyBlocks]] the Manku combination
    * tables (35× fan-out, ~35-bit keys). Same pigeonhole at any width:
    * a ≤ maxHamming pair leaves keyBlocks blocks untouched in SOME
    * combination, so the VERIFIED pair set is scheme-invariant
    * (SimhashKeysSpec pins the equality) — which scheme to pay is
    * purely a cost call, made per corpus by [[simhashAdaptiveKeys]].
    */
  private[operators] def simhashCandidateKeysOf(sh: Column, maxHamming: Int,
      keyBlocks: Int): Column = {
    val bits = TextHashes.SimHashBits
    val nBlocks = maxHamming + keyBlocks
    val base = bits / nBlocks
    val extra = bits % nBlocks // first `extra` blocks are one bit wider
    val bounds = (0 until nBlocks).map { i =>
      (i * base + math.min(i, extra), base + (if (i < extra) 1 else 0))
    }
    val combos = bounds.indices.combinations(keyBlocks).toSeq
    array(combos.zipWithIndex.map { case (combo, t) =>
      val key = combo.foldLeft(lit(0L)) { case (acc, bi) =>
        val (start, width) = bounds(bi)
        shiftleft(acc, width).bitwiseOR(
          shiftrightunsigned(sh, start).bitwiseAND(lit((1L << width) - 1)))
      }
      struct(lit(t).as("tbl"), key.as("key"))
    }: _*)
  }

  /** Distinct-fingerprint count at/below which the scale-form candidate
    * joins use the 4×16-bit chunk tables instead of the 35 combination
    * tables. Below it the chunk buckets are near-singleton already and
    * the combination scheme pays ~9× the explode/join rows for nothing
    * — the r14 rebase regressed sf0.1 q_simhash_clusters 0.49 → 1.31 s
    * and the curation composites embedding the stage (q_curation_full
    * 2.11 → 2.79 s) on corpora of ~6·10⁴ fps; above it chunk occupancy
    * grows linearly with the fp count (the r13 scale-killer: 2.17×
    * over linear at factor 30). 2¹⁶ is where 16-bit buckets reach
    * expected occupancy 1.
    */
  private[operators] val SimhashSchemeCutover = 1L << 16

  /** Candidate keys with the scheme chosen per corpus AT RUN TIME — the
    * r14 verdict's adaptive threshold: `nfp` is a broadcast 1-row
    * (`__nfp`) distinct-fingerprint count, attached by cross join so
    * the choice is a plan-time-free `when` on a constant column (no
    * driver action, no eager count — the lazy-build contract of every
    * registered query). Both branches emit the same (tbl, key) struct
    * array shape and the same verified pairs; only the fan-out and key
    * width differ.
    */
  private def simhashAdaptiveKeys(sh: Column, maxHamming: Int): Column =
    when(col("__nfp") <= SimhashSchemeCutover,
      simhashCandidateKeysOf(sh, maxHamming, 1))
      .otherwise(simhashCandidateKeys(sh, maxHamming))

  /** Registered SimHash near-dup radius: pairs within this Hamming
    * distance are near-duplicates (every simhash operator's default and
    * the DuckDB neighbor chain).
    */
  val SimhashMaxHamming = 3

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates = equal
    * combination key ([[simhashCandidateKeys]] — Manku, Jain & Sarma
    * WWW'07): any pair with Hamming distance ≤ maxHamming leaves one
    * 4-block key subset untouched (pigeonhole). Verified by
    * bit_count(xor). All-pairs output — use on fixtures/small
    * corpora; [[simhashClusters]] is the scale form, and (r16 verdict
    * ask #8) the same [[pairBudgetGuard]] the other pair lists carry
    * refuses an answer-quadratic invocation before the output is
    * sorted or emitted, naming the bounded twins.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = SimhashMaxHamming,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), TextHashes.simhash62(split(col("text"), " ")).as("sh"))
    val chunked = hashed.select(col("doc_id"), col("sh"),
      explode(simhashCandidateKeys(col("sh"), maxHamming)).as("ck"))
    val report = chunked.as("a")
      .join(chunked.as("b"), col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
    pairBudgetGuard(report, pairBudget, "simhashPairs",
      "simhashClusters (one row per doc) or simhashComponents (cluster answer)")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup **clusters** — the 100 TB form of [[simhashPairs]].
    * All-pairs output is inherently quadratic when fingerprints collide
    * (every doc pair in a dense cluster is a row); instead:
    *   1. aggregate docs by *distinct* fingerprint (dense clusters
    *      collapse to one row — the shuffle carries |distinct hashes|,
    *      not |docs|);
    *   2. run the Manku combination-key candidate join
    *      ([[simhashCandidateKeys]]) between distinct fingerprints only;
    *   3. assign each fingerprint the min doc-id among its ≤maxHamming
    *      neighbors (single-step star clustering — documented
    *      approximation of the transitive closure);
    *   4. broadcast the fingerprint→cluster map back onto docs.
    * Output is one row per doc: linear, deterministic.
    */
  def simhashClusters(spark: SparkSession, dir: String, maxHamming: Int = SimhashMaxHamming): DataFrame =
    simhashClustersFrom(Tables.documents(spark, dir), maxHamming)

  /** [[simhashClusters]] over an arbitrary (doc_id, text) frame. */
  private[operators] def simhashClustersFrom(docs: DataFrame,
      maxHamming: Int): DataFrame =
    // the (id, fingerprint) frame has two consumers downstream (the
    // distinct-fingerprint election and the final map-back join); the
    // checkpoint computes the full-text SimHash once — 16 bytes/doc, the
    // cheapest checkpoint in the repo (measured: 3 corpus scans without)
    simhashClustersFromHashes(docs.select(col("doc_id"),
      TextHashes.simhash62(split(col("text"), " ")).as("sh"))
      .transform(Materialize(_)), maxHamming)

  /** [[simhashClusters]] from pre-computed (doc_id, sh) fingerprints —
    * lets [[Curation.curateComplete]] cluster the 8-byte fingerprints its
    * single corpus scan already produced, with no re-scan or re-redaction.
    */
  private[operators] def simhashClustersFromHashes(hashed: DataFrame,
      maxHamming: Int): DataFrame = {
    val uniq = hashed.groupBy("sh").agg(min("doc_id").as("rep"))
      .transform(Materialize(_)) // scheme count + candidate explode read it
    val nfp = uniq.agg(count(lit(1)).as("__nfp"))
    val chunked = uniq.crossJoin(broadcast(nfp))
      .select(col("sh"), col("rep"),
        explode(simhashAdaptiveKeys(col("sh"), maxHamming)).as("ck"))
    val neighborRep = chunked.as("a")
      .join(chunked.as("b"), col("a.ck") === col("b.ck"))
      .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .groupBy(col("a.sh").as("sh"))
      .agg(min(col("b.rep")).as("cluster_rep"))
    hashed
      .join(neighborRep, "sh") // AQE broadcasts when the hash map is small
      .select(col("doc_id"), col("cluster_rep"), col("sh").as("simhash"))
      .orderBy("doc_id")
  }

  /** Exact transitive SimHash clusters — [[simhashClusters]] with the
    * one-hop star election replaced by [[Graph.connectedComponents]]
    * over the distinct-fingerprint candidate graph: a similarity CHAIN
    * a~b~c whose ends are not within `maxHamming` of each other lands in
    * ONE cluster labeled by the component's minimum doc id, however long
    * the chain — the exact fixpoint the star form's scaladoc documents
    * as its residual approximation. Candidate generation is unchanged
    * (Manku combination-key join between distinct fingerprints), so the extra
    * cost is only the O(log n) alternating-star rounds over an edge
    * frame of (8-byte, 8-byte) fingerprint pairs. Null-text docs carry a
    * NULL fingerprint and drop from the output (the star form's
    * behavior, kept for parity). Oracle-checked since round 13 (the
    * portable SimHash lets the DuckDB twin replay fingerprints and the
    * recursive-CTE closure); the spec also checks the doc partition
    * against a union-find oracle over
    * [[simhashPairs]] and pins that components only COARSEN the star
    * partition (comp rep ≤ star rep, star clusters never split).
    */
  def simhashComponents(spark: SparkSession, dir: String,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), TextHashes.simhash62(split(col("text"), " ")).as("sh"))
      .transform(Materialize(_)) // distinct election + final map-back
    // (sh, rep) feeds the chunked self-join, the isolated-node union,
    // and the per-component rep election
    val uniq = hashed.groupBy("sh").agg(min("doc_id").as("rep"))
      .transform(Materialize(_))
    val nfp = uniq.agg(count(lit(1)).as("__nfp"))
    val chunked = uniq.crossJoin(broadcast(nfp))
      .select(col("sh"),
        explode(simhashAdaptiveKeys(col("sh"), maxHamming)).as("ck"))
    val edges = chunked.as("a")
      .join(chunked.as("b"), col("a.ck") === col("b.ck") && col("a.sh") =!= col("b.sh"))
      .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .select(col("a.sh").as("src"), col("b.sh").as("dst"))
      .distinct() // a near pair shares up to C(7,4) keys; CC wants it once
    // components label by min FINGERPRINT; isolated fingerprints (no
    // qualifying neighbor) label themselves; then remap every component
    // to its min doc id for an interpretable cluster_rep
    val comp = uniq.select(col("sh"))
      .join(Graph.connectedComponents(edges).withColumnRenamed("node", "sh"),
        Seq("sh"), "left")
      .select(col("sh"), coalesce(col("component"), col("sh")).as("component"))
    val clusterRep = comp.join(uniq, "sh")
      .groupBy("component").agg(min(col("rep")).as("cluster_rep"))
    hashed
      .join(comp.join(clusterRep, "component").select("sh", "cluster_rep"), "sh")
      .select(col("doc_id"), col("cluster_rep"), col("sh").as("simhash"))
      .orderBy("doc_id")
  }

  /** Registered-query defaults for [[passageDedup]]; the oracle below
    * interpolates THESE constants.
    */
  val DefaultPassageWindow = 10
  val DefaultPassageMinDup = 2

  /** Consecutive `window`-token passages of a text column — the chunker
    * both the operator's census pass and its rebuild pass share (one
    * formula, the [[shingled]] discipline). The last passage may be
    * short (`slice` clamps). Callers guard NULL text — `size(null)` is
    * −1 and `sequence(0, −2)` would DESCEND.
    */
  private[graft] def passagesOf(text: Column, window: Int): Column = {
    val w = split(text, " ")
    transform(
      sequence(lit(0), ceil(size(w).cast("double") / window).cast("int") - 1),
      ci => concat_ws(" ", slice(w, ci * lit(window) + 1, lit(window))))
  }

  /** Passage-level exact dedup — the span/line-dedup modality of the
    * CCNet / RefinedWeb boilerplate recipes, over fixed token windows
    * (this corpus has no newline structure; a newline-delimited corpus
    * swaps the chunker for `split(text, "\n")` and the rest is
    * unchanged): every passage whose exact text occurs ≥ `minDupCount`
    * times corpus-wide (ALL occurrences counted — within-doc repeats
    * included) is dropped, and each document re-emits with its
    * surviving passages rejoined in order. Catches the cross-document
    * boilerplate (navigation, cookie banners, license headers) that
    * document-level dedup can never see. Fixed windows only catch
    * ALIGNED spans — the documented trade vs the shingle operators,
    * which catch unaligned overlap but cannot REWRITE the text.
    *
    * Scale shape: passages are born scan-side (transform over the token
    * array) and immediately hashed, so the duplicate census shuffles
    * 8-byte xxhash64 digests with map-side combine — never passage
    * text; the dup-digest frame is data-proportional (no broadcast
    * hint, AQE decides); the per-doc drop list is a slim
    * (doc_id, int-array) frame. The rebuild runs AFTER the final range
    * sort: the sort's child is just scan + broadcast drop-list join, so
    * the range-bounds sampling pass never executes the
    * tokenize+chunk+rejoin transform, and `n_passages` comes from a
    * token count (`ceil(|tokens|/window)` — equal by construction),
    * not a second evaluation of the passage array. The r7 probe read
    * 2.16× superlinear on the pre-sort-rebuild shape; this ordering
    * plus min-of-2 probe timing measures 0.35 at factor 10 (and ~1.6×
    * faster at base SF). The raw text crosses exactly ONE exchange —
    * the cosmetic final range sort, whose payload IS the answer; every
    * hash exchange stays digest/index-slim (PlanSpec pins both).
    * Digest equality stands in for passage equality: the same accepted
    * n²/2⁶⁴ collision bound as [[ngramJaccardPairs]]'s 8-byte shingle
    * keys; the DuckDB oracle groups by the passage STRING, so the green
    * hash doubles as a live collision canary at test SF.
    *
    * Output (doc_id, lang, n_passages, n_dropped, text_clean): NULL-text
    * docs carry 0 / 0 / NULL (total function, the incremental-dedup
    * rule); a doc whose every passage is boilerplate rebuilds to the
    * EMPTY string — the downstream quality gate is where it drops.
    */
  def passageDedup(spark: SparkSession, dir: String,
      window: Int = DefaultPassageWindow,
      minDupCount: Int = DefaultPassageMinDup): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // slim (doc_id, idx, 8-byte hash) frame feeds BOTH the census and
    // the drop-list join: checkpoint so the tokenize+chunk+hash scan
    // runs once (the ngramJaccardPairs discipline; 3 scans without)
    val ex = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(passagesOf(col("text"), window)).as(Seq("idx", "passage")))
      .select(col("doc_id"), col("idx"), xxhash64(col("passage")).as("ph"))
      .transform(Materialize(_))
    val dup = ex.groupBy("ph").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minDupCount).select("ph")
    val dropIdx = ex.join(dup, "ph")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("idx"))).as("drop_idxs"))

    val p = passagesOf(col("text"), window)
    val dropA = coalesce(col("drop_idxs"), array().cast("array<int>"))
    docs.join(dropIdx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"), col("drop_idxs"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("lang"),
        when(col("text").isNotNull,
          ceil(size(split(col("text"), " ")).cast("double") / window)
            .cast("int")).otherwise(0).as("n_passages"),
        when(col("drop_idxs").isNotNull, size(col("drop_idxs")))
          .otherwise(0).as("n_dropped"),
        when(col("text").isNotNull,
          array_join(filter(p, (_, i) => !array_contains(dropA, i)), " "))
          .as("text_clean"))
  }

  /** Corpus rollup of [[passageDedup]] — the go/no-go funnel before a
    * scrub run: (n_docs, n_passages, n_dup_passages, n_dropped,
    * drop_frac). n_dup_passages counts DISTINCT duplicated passages (the
    * census size the streaming gate would broadcast); n_dropped counts
    * the occurrences a scrub removes. Same hash-keyed census shuffle as
    * the operator; everything after is one-row aggregates.
    */
  def passageStats(spark: SparkSession, dir: String,
      window: Int = DefaultPassageWindow,
      minDupCount: Int = DefaultPassageMinDup): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grouped = docs.filter(col("text").isNotNull)
      .select(posexplode(passagesOf(col("text"), window)).as(Seq("idx", "passage")))
      .select(xxhash64(col("passage")).as("ph"))
      .groupBy("ph").agg(count(lit(1)).as("n"))
      .transform(Materialize(_)) // total + duplicated aggregates
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val totals = grouped.agg(coalesce(sum(col("n")), lit(0L)).as("n_passages"))
    val dups = grouped.filter(col("n") >= minDupCount)
      .agg(count(lit(1)).as("n_dup_passages"),
        coalesce(sum(col("n")), lit(0L)).as("n_dropped"))
    nDocs.crossJoin(totals).crossJoin(dups)
      .select(col("n_docs"), col("n_passages"), col("n_dup_passages"),
        col("n_dropped"),
        PortableRound.r(col("n_dropped").cast("double") / col("n_passages"), 6)
          .as("drop_frac"))
  }

  /** The corpus-wide duplicated-passage census: (passage, n_occurrences)
    * for every `window`-token passage occurring ≥ `minDupCount` times —
    * the frozen "boilerplate set" the streaming gate
    * ([[graft.streaming.StreamingFeatures.boilerplateGateStream]]) scrubs
    * against, and the audit view of what [[passageDedup]] is dropping.
    * Groups by the passage STRING (the answer IS the strings — the same
    * pair-list-demo justification as [[ngramJaccardPairs]]'s output);
    * the census [[passageDedup]] runs internally stays hash-keyed.
    */
  def duplicatePassages(spark: SparkSession, dir: String,
      window: Int = DefaultPassageWindow,
      minDupCount: Int = DefaultPassageMinDup): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(passagesOf(col("text"), window)).as("passage"))
      .groupBy("passage").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minDupCount)
      .orderBy("passage")

  /** N-gram length / distinct-document multiplicity for
    * [[dupNgramCoverage]]; the oracle interpolates THESE constants.
    */
  val DefaultCoverageN = 10
  val DefaultCoverageMinDocs = 2

  /** Sliding n-gram hashes of a text column — [[passagesOf]]'s chunker
    * at stride 1: position i carries the 8-byte xxhash64 of tokens
    * [i, i+n). Backed by the native
    * [[graft.functions.TextHashes.NgramHashes64]] expression (one pass
    * over the raw bytes, zero per-window allocation — byte-identical
    * digests to the column-algebra
    * `xxhash64(concat_ws(" ", slice(split, i, n)))` it replaces, which
    * TextHashesSpec keeps as the property-test reference model). Docs
    * with fewer than `n` tokens — and NULL text — carry an EMPTY array
    * (the [[passagesOf]] guard semantics).
    */
  private[graft] def ngramHashes(text: Column, n: Int): Column =
    coalesce(TextHashes.ngramHashes64Col(text, n), array().cast("array<long>"))

  /** Cross-document duplicated n-gram coverage — the `dup_ngram_frac`
    * quality signal of the public web-corpus recipes (RefinedWeb /
    * Dolma report the fraction of a document's n-grams that occur
    * elsewhere in the corpus and gate on it): for each document, how
    * many of its sliding `n`-token windows occur in at least `minDocs`
    * DISTINCT documents. The UNALIGNED complement of [[passageDedup]]:
    * fixed windows only catch boilerplate that chunk-aligns, while a
    * stride-1 census sees a shared span at ANY offset — but it can
    * only SCORE the doc, not rewrite it (interval stitching is the
    * rewrite path). Within-doc repeats deliberately do NOT qualify —
    * that is [[TextAnalytics]]'s repetition signal; conflating the two
    * would let a self-repetitive doc masquerade as boilerplate.
    *
    * Scale shape: grams are born scan-side and immediately hashed
    * ([[ngramHashes]]) into a per-doc array (~8 bytes per token, the
    * shared checkpoint); the distinct-doc collapse ALSO happens
    * scan-side (`array_distinct` over the doc's own gram array), so the
    * census exchange carries map-side-combined (gram, partial-count)
    * rows — the token stream itself never crosses the wire just to be
    * deduplicated; the per-doc coverage count explodes the same
    * checkpointed array; text never enters an exchange.
    * Digest-for-string equality: the
    * [[passageDedup]] collision bound; the oracle groups by the gram
    * STRING, so the green hash is the live collision canary.
    *
    * Output (doc_id, lang, n_ngrams, n_dup_ngrams, dup_frac): NULL-text
    * and sub-n docs carry 0 / 0 / NULL (total function; dup_frac NULL
    * where undefined, both engines).
    */
  def dupNgramCoverage(spark: SparkSession, dir: String,
      n: Int = DefaultCoverageN,
      minDocs: Int = DefaultCoverageMinDocs): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the per-doc GRAM ARRAY is the shared checkpoint (one row per doc,
    // ~8 bytes/token): census and coverage both derive from the one
    // tokenize+slide+hash pass. The census explodes array_distinct
    // SCAN-SIDE, so the distinct-doc count is a plain map-side-combined
    // count — the (doc, gram)-distinct shuffle of the naive shape
    // (every token position crossing the wire just to dedup) never
    // happens; within-doc repeats are gone before the exchange.
    val arr = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ngramHashes(col("text"), n).as("g"))
      .transform(Materialize(_))
    val dup = arr.select(explode(array_distinct(col("g"))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    val cov = arr.select(col("doc_id"), explode(col("g")).as("gh"))
      .join(dup, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val nGrams = when(col("text").isNotNull,
      greatest(size(split(col("text"), " ")) - (n - 1), lit(0))).otherwise(0)
    docs.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        nGrams.cast("long").as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_ngrams"),
        when(nGrams > 0,
          PortableRound.r(
            coalesce(col("n_dup"), lit(0L)).cast("double") / nGrams, 6))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Corpus rollup of [[dupNgramCoverage]] — the go/no-go funnel before
    * a [[dupSpanScrub]] run, the [[passageStats]] twin for the stride-1
    * family: (n_docs, n_grams, n_dup_grams, n_covered, covered_frac).
    * n_grams counts positions (occurrences); n_dup_grams counts
    * DISTINCT duplicated grams (the census size the streaming gate
    * would broadcast); n_covered counts the positions a scrub removes
    * at span granularity's upper bound (every duplicated-gram START —
    * the interval union the scrub actually removes is bounded by
    * n·n_covered). Same scan-side-distinct census as the operator;
    * everything after is one-row aggregates.
    */
  def dupNgramStats(spark: SparkSession, dir: String,
      n: Int = DefaultCoverageN,
      minDocs: Int = DefaultCoverageMinDocs): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val arr = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ngramHashes(col("text"), n).as("g"))
      .transform(Materialize(_)) // census + totals + coverage
    val census = arr.select(explode(array_distinct(col("g"))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .transform(Materialize(_)) // dup filter + nothing else big
    val dup = census.filter(col("nd") >= minDocs).select("gh")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val totals = arr.agg(coalesce(sum(size(col("g"))), lit(0L)).as("n_grams"))
    val dups = dup.agg(count(lit(1)).as("n_dup_grams"))
    val covered = arr.select(explode(col("g")).as("gh")).join(dup, "gh")
      .agg(count(lit(1)).as("n_covered"))
    nDocs.crossJoin(totals).crossJoin(dups).crossJoin(covered)
      .select(col("n_docs"), col("n_grams"), col("n_dup_grams"),
        col("n_covered"),
        when(col("n_grams") > 0,
          PortableRound.r(col("n_covered").cast("double") / col("n_grams"), 6))
          .as("covered_frac"))
  }

  /** Recall of the sketch near-dup paths against the exact PPJoin
    * ground truth, as a registered metric frame (method, recall_micros)
    * — the text twin of [[Similarity.annRecall]]: the driver tracks
    * sketch-quality drift round-over-round instead of it living only in
    * ScalaTest. Truth = [[ngramJaccardPairs]] at `threshold` (lossless
    * by construction). Each sketch's EXACT candidate + verify predicate
    * is then evaluated ON the truth pairs — shared-band ∧ signature
    * agreement ≥ minAgree for MinHash ([[minhashLshPairs]]'s emit rule,
    * same [[bandKeys]] and [[graft.functions.TextHashes.MinHashSigs]]),
    * shared-candidate-key ∧ hamming ≤ maxHamming for SimHash
    * ([[simhashPairs]]'s emit set — evaluated here via the 16-bit-chunk
    * predicate, which pigeonhole makes equivalent to the combination
    * keys on any hamming ≤ maxHamming pair) — so the numbers equal
    * a semi-join of the pair operators' output against truth WITHOUT
    * enumerating any non-truth pair: the pair lists are quadratic on
    * dup piles (measured 13.5 s for simhashPairs alone at sf0.1 vs
    * ~2.5 s for this whole frame), and a recall metric must not pay for
    * answers it never reads. `minhash_lsh` estimates Jaccard directly,
    * so its number reads as true recall; `simhash` measures hamming
    * proximity (a cosine-like notion), so its number against a Jaccard
    * truth is an observability metric — TRACKED for drift, not graded
    * pass/fail. Empty truth reports vacuous full recall rather than
    * dividing 0/0 (total function — the ANSI cast would throw).
    * Oracle-checked since round 13: the portable CW signatures and the
    * portable 62-bit simhash made both hit predicates (band-value
    * equality ∧ agreement; chunk pigeonhole ∧ hamming) pure integer SQL.
    */
  def neardupRecall(spark: SparkSession, dir: String,
      threshold: Double = 0.5,
      bands: Int = MinhashBands, rows: Int = MinhashRows,
      minAgree: Double = MinhashMinAgree, maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val truth = ngramJaccardPairs(spark, dir, threshold)
      .select("doc_a", "doc_b")
      .transform(Materialize(_)) // one probe per method + the total
    val truthN = truth.agg(count(lit(1)).cast("double").as("n_truth"))

    val k = bands * rows
    val sig = minhashSignatures(spark, dir, k)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"),
        array(bandKeys(bands, rows): _*).as("bks"))
    val mhHit = truth
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("bks").as("bks_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("bks").as("bks_b")), "doc_b")
      .filter(arrays_overlap(col("bks_a"), col("bks_b")) &&
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($k as double)")
          >= minAgree)

    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), TextHashes.simhash62(split(col("text"), " ")).as("sh"))
    val chunkShared = (0 until 4).map(i =>
      shiftrightunsigned(col("sh_a"), i * 16).bitwiseAND(lit(0xFFFFL)) ===
        shiftrightunsigned(col("sh_b"), i * 16).bitwiseAND(lit(0xFFFFL)))
      .reduce(_ || _)
    val shHit = truth
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(chunkShared &&
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)

    Seq("minhash_lsh" -> mhHit, "simhash" -> shHit).map { case (name, df) =>
      df.agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(truthN))
        .select(lit(name).as("method"),
          when(col("n_truth") > 0,
            floor(col("n_hit") / col("n_truth") * lit(1000000L) + lit(0.5))
              .cast("long"))
            .otherwise(lit(1000000L)).as("recall_micros"))
    }.reduce(_.unionAll(_)).orderBy("method")
  }

  /** Banding-curve sweep — the measured answer to "why (bands=6,
    * rows=2)?": recall vs the exact PPJoin truth AND generated join work
    * for every way of splitting the FIXED k = 12 hash budget into
    * (bands × rows). The sweep varies only the split (the budget is the
    * cost knob [[minhashSignatures]] already documents), so one
    * signature frame and one truth join feed every config.
    *
    * Per config:
    *   - `recall_micros`: the [[neardupRecall]] machinery — the config's
    *     exact emit predicate (shared band ∧ signature agreement ≥
    *     `minAgree`) evaluated ON the truth pairs; never enumerates a
    *     non-truth pair.
    *   - `candidate_pairs`: Σ over (band, bucket) of C(bucket_size, 2) —
    *     the number of candidate comparisons the banding's self-join
    *     generates (a pair sharing m bands is counted m times because
    *     the join PRODUCES it m times before dropDuplicates). Computed
    *     from bucket sizes — linear, no pair is enumerated.
    *
    * The recall direction is provably monotone along nested splits: a
    * coarse band's rows-equal event implies some aligned finer band's
    * (e.g. (2,6) ⇒ (3,4) ⇒ (6,2) ⇒ (12,1) — each coarse band interval
    * contains an aligned finer interval), so more bands can only gain
    * recall at the price of more candidate work; the spec pins that
    * chain. (3,4) vs (4,3) is the one incomparable pair — 3-aligned
    * intervals straddle 4-aligned ones — so the spec does not pin it.
    * Oracle-checked since round 13: signatures are the portable CW
    * family, the truth side replays the q_ngram_jaccard SQL, and the
    * bucket census groups by the band's VALUE slice (not an engine
    * hash of it), so every number replays in DuckDB. Measured at sf0.1 the
    * truth pairs are all high-J, so recall saturates at 10⁶ micros
    * from (3,4) up; the registered (6,2) default is the theoretical-
    * coverage choice (band collision odds 0.82 vs 0.18 at J = 0.5)
    * at ~3× (3,4)'s candidate work and 1/61 of (12,1)'s — the exact
    * numbers live in OPERATIONS.md's banding row.
    */
  def lshTuning(spark: SparkSession, dir: String,
      threshold: Double = 0.5, minAgree: Double = 0.5,
      configs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2), (12, 1))): DataFrame = {
    val k = configs.head._1 * configs.head._2
    require(configs.forall { case (b, r) => b * r == k },
      s"sweep varies the SPLIT of a fixed k=$k budget; got $configs")
    val truth = ngramJaccardPairs(spark, dir, threshold)
      .select("doc_a", "doc_b")
      .transform(Materialize(_)) // one predicate pass per config
    val truthN = truth.agg(count(lit(1)).cast("double").as("n_truth"))
    val sig = minhashSignatures(spark, dir, k)
      .select(col("doc_id"), array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"))
      .transform(Materialize(_)) // truth annotation + per-config buckets
    // truth pairs annotated with both signatures ONCE; each config's
    // predicate is then a pure column expression over the sig arrays
    val joined = truth
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .transform(Materialize(_))
    val agreeOk =
      expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($k as double)") >= minAgree
    configs.map { case (bands, rows) =>
      val bandShared = (0 until bands).map { b =>
        (b * rows until (b + 1) * rows)
          .map(i => col("sig_a")(i) === col("sig_b")(i)).reduce(_ && _)
      }.reduce(_ || _)
      val hits = joined.filter(bandShared && agreeOk)
        .agg(count(lit(1)).as("n_hit"))
      // group by the band's VALUE slice, not a hash of it: exact (no
      // collision merge can under-count) and engine-portable — the
      // exchange carries ≤ 12 int64s per row instead of 8 bytes, an
      // acceptable price for a census that never leaves the sig frame
      val bucketCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          array((b * rows until (b + 1) * rows).map(i => col("sig")(i)): _*)
            .as("bucket"))
      }
      // `div`, not `/`: m·(m−1) is always even so integer division is
      // exact, while `/` would detour through double (53-bit mantissa)
      val work = sig.select(explode(array(bucketCols: _*)).as("bk"))
        .groupBy("bk").agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L))
          .as("candidate_pairs"))
      hits.crossJoin(broadcast(truthN)).crossJoin(broadcast(work))
        .select(lit(bands).as("bands"), lit(rows).as("rows"),
          when(col("n_truth") > 0,
            floor(col("n_hit") / col("n_truth") * lit(1000000L) + lit(0.5))
              .cast("long"))
            .otherwise(lit(1000000L)).as("recall_micros"),
          col("candidate_pairs"))
    }.reduce(_.unionAll(_)).orderBy("bands", "rows")
  }

  /** The frozen cross-document duplicated-gram census as a digest
    * frame: (gh) for every `n`-gram occurring in ≥ `minDocs` distinct
    * documents — the static side of the streaming span-scrub gate
    * ([[graft.streaming.StreamingFeatures.spanScrubGateStream]]), and
    * the digest twin of [[duplicatePassages]] (8-byte longs instead of
    * passage strings: the broadcast is ~an order lighter for the same
    * census).
    */
  def duplicateNgramHashes(spark: SparkSession, dir: String,
      n: Int = DefaultCoverageN,
      minDocs: Int = DefaultCoverageMinDocs): DataFrame =
    duplicateNgramHashesFrom(Tables.documents(spark, dir), n, minDocs)

  /** [[duplicateNgramHashes]] over an arbitrary (doc_id, text) frame —
    * lets a streaming-gate caller freeze the census of exactly the
    * snapshot it replays (the bench's scrub-gate throughput measurement
    * does this) with no re-read of the corpus directory.
    */
  private[graft] def duplicateNgramHashesFrom(docs: DataFrame,
      n: Int, minDocs: Int): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(explode(array_distinct(ngramHashes(col("text"), n))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")

  /** Duplicated-span scrub — the ExactSubstr rewrite of the public
    * dedup recipes (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": remove every span that occurs verbatim
    * elsewhere in the corpus; public recipe — their suffix-array build
    * is replaced by this engine's stride-1 digest census, the
    * Spark-native equivalent at a fixed span length): a token is
    * removed iff ANY cross-document duplicated `n`-gram window covers
    * it, and the document re-emits with its surviving tokens rejoined
    * in order. The REWRITE form of [[dupNgramCoverage]] — same census,
    * same distinct-doc rule (within-doc repeats never scrub) — and the
    * unaligned counterpart of [[passageDedup]], which can only remove
    * chunk-aligned spans.
    *
    * Scale shape: identical to [[dupNgramCoverage]] up to the census
    * (shared per-doc gram-array checkpoint, scan-side distinct,
    * digest-only hash exchanges); the per-doc duplicated-offset list is a slim
    * int-array frame; the rebuild runs ABOVE the final range sort (the
    * [[passageDedup]] post-sort discipline — the range-bounds sampling
    * pass never executes the rebuild lambda). `n_removed` is computed
    * by a merged-interval fold over the SORTED offset list (exact union
    * length, one pass), not by re-evaluating the kept-token filter —
    * the two expressions are provably equal and the spec asserts it.
    * Per-token membership is `arrays_overlap` of the ≤ n-element
    * coverage window against the offset list — O(tokens · n) per doc.
    *
    * Output (doc_id, lang, n_tokens, n_removed, text_clean): NULL-text
    * docs carry 0 / 0 / NULL; a fully-duplicated doc rebuilds to the
    * EMPTY string (the [[passageDedup]] contract — the quality gate
    * downstream is where it drops).
    */
  def dupSpanScrub(spark: SparkSession, dir: String,
      n: Int = DefaultCoverageN,
      minDocs: Int = DefaultCoverageMinDocs): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // same shared gram-array checkpoint + scan-side-distinct census as
    // [[dupNgramCoverage]] (see the shuffle note there)
    val arr = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ngramHashes(col("text"), n).as("g"))
      .transform(Materialize(_))
    val dup = arr.select(explode(array_distinct(col("g"))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    val dupIdx = arr
      .select(col("doc_id"), posexplode(col("g")).as(Seq("idx", "gh")))
      .join(dup, "gh")
      .groupBy("doc_id").agg(sort_array(collect_list(col("idx"))).as("dup_idxs"))

    val w = split(col("text"), " ")
    val dupA = coalesce(col("dup_idxs"), array().cast("array<int>"))
    // token j is covered iff a duplicated window starts in [j-n+1, j]
    val kept = filter(w, (_, j) =>
      !arrays_overlap(dupA, sequence(greatest(j - (n - 1), lit(0)), j)))
    // union length of the [i, i+n) intervals over the ASCENDING offsets:
    // each window adds its part past the previous covered frontier
    val covered = aggregate(dupA,
      struct(lit(0).as("e"), lit(0).as("t")),
      (acc, i) => struct(
        greatest(acc("e"), i + n).as("e"),
        (acc("t") + (i + n - greatest(i, acc("e")))).as("t")),
      acc => acc("t"))
    docs.join(dupIdx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"), col("dup_idxs"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("lang"),
        when(col("text").isNotNull, size(w)).otherwise(0)
          .cast("long").as("n_tokens"),
        covered.cast("long").as("n_removed"),
        when(col("text").isNotNull, array_join(kept, " ")).as("text_clean"))
  }

  /** Generated DuckDB twin of [[dupSpanScrub]] at span length n. */
  private def dupSpanScrubSql(n: Int, minDocs: Int): String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, i, array_to_string(w[i : i + ${n - 1}], ' ') AS gram
      |  FROM (SELECT doc_id, w,
      |          unnest(range(1, len(w) - $n + 2)) AS i
      |        FROM d)),
      |dup AS (
      |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      |  GROUP BY gram HAVING count(*) >= $minDocs),
      |di AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
      |pos AS (
      |  SELECT doc_id, j, w[j] AS tok
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS j FROM d)),
      |keep AS (
      |  SELECT p.doc_id, p.j, p.tok,
      |         NOT EXISTS (SELECT 1 FROM di
      |                     WHERE di.doc_id = p.doc_id
      |                       AND di.i BETWEEN p.j - ${n - 1} AND p.j) AS k
      |  FROM pos p),
      |rb AS (
      |  SELECT doc_id,
      |         coalesce(array_to_string(list(tok ORDER BY j) FILTER (WHERE k), ' '), '')
      |           AS text_clean,
      |         CAST(coalesce(sum(CASE WHEN k THEN 0 ELSE 1 END), 0) AS BIGINT)
      |           AS n_removed
      |  FROM keep GROUP BY doc_id)
      |SELECT d0.doc_id, d0.lang,
      |       CAST(CASE WHEN d0.text IS NULL THEN 0
      |            ELSE len(string_split(d0.text, ' ')) END AS BIGINT) AS n_tokens,
      |       CAST(coalesce(rb.n_removed, 0) AS BIGINT) AS n_removed,
      |       CASE WHEN d0.text IS NOT NULL
      |            THEN coalesce(rb.text_clean, '') END AS text_clean
      |FROM documents d0
      |LEFT JOIN rb USING (doc_id)
      |ORDER BY d0.doc_id""".stripMargin

  /** The shared minhash oracle CTE chain: shingle fold → CW minima →
    * ordered signature list → band tuples. Every hash is the portable
    * integer family ([[TextHashes.duckFold]] + the interpolated CW
    * coefficient table), so DuckDB replays [[minhashSignaturesFrom]]
    * exactly; n = 3 shingles are structural (the [[shingled]] default).
    * The per-occurrence fold (no distinct) is equivalent under the min.
    * CTEs are MATERIALIZED — msig/mband are referenced twice downstream
    * and DuckDB's inline planning would re-evaluate the chain.
    */
  private[operators] def duckMinhashCtes(bands: Int, rows: Int): String = {
    val k = bands * rows
    val bandCols = (0 until rows)
      .map(r => s"sig[b * $rows + ${r + 1}] AS r$r").mkString(", ")
    s"""mdocs AS (
      |  SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
      |msh AS (
      |  SELECT doc_id,
      |         ${TextHashes.duckFold("array_to_string(w[i : i + 2], ' ')")} AS h
      |  FROM mdocs, unnest(range(1, len(w) - 1)) AS t(i)),
      |mcoef AS (SELECT * FROM (VALUES ${TextHashes.minhashCoeffValues(k)})
      |          c(j, a, b)),
      |msig AS MATERIALIZED (
      |  SELECT doc_id, list(mn ORDER BY j) AS sig
      |  FROM (SELECT doc_id, j,
      |               min((a * h + b) % ${TextHashes.MinhashModulus}) AS mn
      |        FROM msh CROSS JOIN mcoef GROUP BY doc_id, j)
      |  GROUP BY doc_id),
      |mband AS MATERIALIZED (
      |  SELECT doc_id, b, $bandCols
      |  FROM msig, unnest(range(0, $bands)) AS u(b))""".stripMargin
  }

  private[operators] def duckBandEq(rows: Int): String =
    (s"a.b = b.b" +: (0 until rows).map(r => s"a.r$r = b.r$r"))
      .mkString(" AND ")

  /** The transitive component-label CTE chain shared by the
    * q_minhash_components / q_dedup_keep_best / q_keep_best_stats
    * oracles: band-bucket pairs → symmetric edges → recursive
    * reachability → per-doc minimum reachable id (`mlab`), then `mcomp`
    * labels EVERY document (singletons are their own rep). Requires
    * `WITH RECURSIVE` and [[duckMinhashCtes]] in scope.
    */
  private def duckComponentCtes: String =
    s"""mpairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM mband a JOIN mband b
      |    ON ${duckBandEq(MinhashRows)} AND a.doc_id < b.doc_id),
      |me AS (SELECT doc_a AS a, doc_b AS b FROM mpairs
      |       UNION ALL SELECT doc_b, doc_a FROM mpairs),
      |mreach AS (
      |  SELECT a, b FROM me
      |  UNION
      |  SELECT r.a, me.b FROM mreach r JOIN me ON me.a = r.b
      |  WHERE me.b <> r.a),
      |mlab AS (
      |  SELECT n.doc_id,
      |         least(n.doc_id, coalesce(min(r.b), n.doc_id)) AS cluster_rep
      |  FROM (SELECT doc_id FROM msig) n
      |  LEFT JOIN mreach r ON r.a = n.doc_id
      |  GROUP BY n.doc_id),
      |mcomp AS (
      |  SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS cluster_rep
      |  FROM documents d LEFT JOIN mlab l USING (doc_id))""".stripMargin

  /** The (quality_ok, n_tokens) election key + elected canonical per
    * component — the q_dedup_keep_best / q_keep_best_stats shared tail.
    * `mkeep` is one row per document with its `best_doc` and `keep`.
    */
  private def duckKeepBestCtes: String =
    s"""mq AS (
      |  SELECT doc_id,
      |         CASE WHEN ${TextAnalytics.duckQualityOk} THEN 1 ELSE 0 END
      |           AS quality_ok,
      |         len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |mranked AS (
      |  SELECT c.doc_id, c.cluster_rep, q.quality_ok, q.n_tokens,
      |         row_number() OVER (PARTITION BY c.cluster_rep
      |                            ORDER BY q.quality_ok DESC,
      |                                     coalesce(q.n_tokens, -1) DESC,
      |                                     c.doc_id) AS rn
      |  FROM mcomp c JOIN mq q USING (doc_id)),
      |mkeep AS (
      |  SELECT r.doc_id, r.cluster_rep, r.quality_ok, r.n_tokens,
      |         b.best_doc, CAST(r.doc_id = b.best_doc AS INT) AS keep
      |  FROM mranked r
      |  JOIN (SELECT cluster_rep, doc_id AS best_doc
      |        FROM mranked WHERE rn = 1) b USING (cluster_rep))""".stripMargin

  /** The shared portable-simhash oracle CTE chain, ending in
    * `ssh(doc_id, sh)` — one fingerprint per non-NULL-text doc. The 62
    * per-bit sign sums are generated columns over the exploded
    * (doc_id, token-pattern) frame; constants interpolate from
    * [[TextHashes]] so operator and twin cannot desynchronize.
    */
  private[operators] def duckSimhashCtes: String = duckSimhashCtesFrom("documents")

  private[operators] def duckSimhashCtesFrom(relation: String): String = {
    val bitSums = (0 until TextHashes.SimHashBits).map { b =>
      val src = if (b < 31) s"(lo >> $b)" else s"(hi >> ${b - 31})"
      s"sum(CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n      |         ")
    val shExpr = (0 until TextHashes.SimHashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""stok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM $relation WHERE text IS NOT NULL),
      |spat AS (
      |  SELECT doc_id, lo,
      |         (lo * lo + ${TextHashes.SimA2} * lo + ${TextHashes.SimB2})
      |           % ${TextHashes.MinhashModulus} AS hi
      |  FROM (SELECT doc_id,
      |               (x * x + ${TextHashes.SimA1} * x + ${TextHashes.SimB1})
      |                 % ${TextHashes.MinhashModulus} AS lo
      |        FROM (SELECT doc_id, ${TextHashes.duckFold("t")} AS x
      |              FROM stok))),
      |sbit AS (
      |  SELECT doc_id,
      |         $bitSums
      |  FROM spat GROUP BY doc_id),
      |ssh AS MATERIALIZED (
      |  SELECT doc_id, CAST($shExpr AS BIGINT) AS sh FROM sbit)""".stripMargin
  }

  /** The full simhash-cluster chain over `relation`, ending in
    * `scl(doc_id, cluster_rep)` — [[simhashClusters]] replayed; the
    * curation composites interpolate it (their near-dup stage).
    */
  private[operators] def duckSimhashClusterCtes(relation: String): String =
    s"""${duckSimhashCtesFrom(relation)},
      |${duckSimhashNeighborCtes()},
      |scl AS (
      |  SELECT d2.doc_id, n.cluster_rep
      |  FROM ssh d2 JOIN snb n USING (sh))""".stripMargin

  /** The Manku 4×16-bit chunk join over the distinct fingerprints of
    * `src(doc_id, sh)`, CTE names prefixed with `pre`: `suniq(sh, rep)`
    * each fingerprint's min-id doc, `schunk` its four 16-bit chunks and
    * `snb(sh, cluster_rep)` the min rep within Hamming 3 — shared by the
    * clusters and components oracles and the media phash oracle. The
    * Scala side uses combination keys ([[simhashCandidateKeys]]) for
    * scale; the twin deliberately keeps the cheaper single-block
    * chunks because both schemes' VERIFIED sets equal
    * {pairs with hamming ≤ maxHamming} exactly (each guarantees
    * all-pairs recall by pigeonhole, and both apply the same bit_count
    * filter), so the oracle is scheme-agnostic.
    */
  private[operators] def duckSimhashNeighborCtes(pre: String = "",
      src: String = "ssh"): String =
    s"""${pre}suniq AS MATERIALIZED (
      |  SELECT sh, min(doc_id) AS rep FROM $src GROUP BY sh),
      |${pre}schunk AS MATERIALIZED (
      |  SELECT sh, rep, c, (sh >> (c * 16)) & 65535 AS ck
      |  FROM ${pre}suniq, unnest(range(0, 4)) AS u(c)),
      |${pre}snb AS (
      |  SELECT a.sh AS sh, min(b.rep) AS cluster_rep
      |  FROM ${pre}schunk a JOIN ${pre}schunk b ON a.c = b.c AND a.ck = b.ck
      |  WHERE bit_count(xor(a.sh, b.sh)) <= $SimhashMaxHamming
      |  GROUP BY a.sh)""".stripMargin

  /** The n-gram Jaccard pair chain: `jpairs(doc_a, doc_b, n_a, n_b,
    * common)` every same-lang pair sharing a 3-shingle, then the TRUTH
    * pairs `jt(doc_a, doc_b)` at `threshold` + `jtn(n_truth)` — shared
    * by q_ngram_jaccard and the tuning-sweep and recall-tracker oracles
    * so the truth side cannot desynchronize from the anchor.
    */
  private def duckJaccardTruthCtes(threshold: Double = 0.5): String =
    s"""jsh AS (
      |  SELECT doc_id, lang,
      |         list_distinct(list_transform(
      |           range(1, len(string_split(text, ' ')) - 1),
      |           i -> concat_ws(' ', string_split(text, ' ')[i],
      |                          string_split(text, ' ')[i+1],
      |                          string_split(text, ' ')[i+2]))) AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |jex AS (
      |  SELECT doc_id, lang, len(shingles) AS n_sh, unnest(shingles) AS shingle
      |  FROM jsh),
      |jpairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      |  FROM jex a JOIN jex b ON a.shingle = b.shingle AND a.lang = b.lang
      |                        AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jt AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM jpairs
      |  WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= $threshold),
      |jtn AS (SELECT count(*) AS n_truth FROM jt)""".stripMargin

  /** `g(doc_id, gram)`: every word n-gram occurrence at the registered
    * coverage n — the head of both duplicated-n-gram coverage oracles.
    */
  private def duckCoverageGramCtes: String =
    s"""d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(w) - $DefaultCoverageN + 2),
      |           i -> array_to_string(w[i : i + ${DefaultCoverageN - 1}], ' '))) AS gram
      |  FROM d)""".stripMargin

  /** The recall_micros projection over a 1-row hit count CTE `h`. */
  private def duckRecallExpr(hitExpr: String): String =
    s"""CASE WHEN jtn.n_truth > 0
       |            THEN CAST(floor(CAST($hitExpr AS DOUBLE) / jtn.n_truth
       |                 * 1000000 + 0.5) AS BIGINT)
       |            ELSE 1000000 END AS recall_micros""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_neardup_recall" -> {
      val k = MinhashBands * MinhashRows
      val bandPred = (0 until MinhashBands).map { b =>
        (1 to MinhashRows)
          .map(r => s"t.sig_a[${b * MinhashRows + r}] = t.sig_b[${b * MinhashRows + r}]")
          .mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
      val agree = s"CAST(len(list_filter(range(1, ${k + 1}), " +
        s"i -> t.sig_a[i] = t.sig_b[i])) AS DOUBLE) / $k >= $MinhashMinAgree"
      val chunkShared = (0 until 4).map(i =>
        s"((t.sh_a >> ${i * 16}) & 65535) = ((t.sh_b >> ${i * 16}) & 65535)")
        .mkString("(", " OR ", ")")
      s"""WITH ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |${duckJaccardTruthCtes()},
        |${duckSimhashCtes},
        |mtp AS (
        |  SELECT sa.sig AS sig_a, sb.sig AS sig_b
        |  FROM jt JOIN msig sa ON sa.doc_id = jt.doc_a
        |          JOIN msig sb ON sb.doc_id = jt.doc_b),
        |mh AS (SELECT count(*) AS n_hit FROM mtp t
        |       WHERE $bandPred AND $agree),
        |stp AS (
        |  SELECT ha.sh AS sh_a, hb.sh AS sh_b
        |  FROM jt JOIN ssh ha ON ha.doc_id = jt.doc_a
        |          JOIN ssh hb ON hb.doc_id = jt.doc_b),
        |sh2 AS (SELECT count(*) AS n_hit FROM stp t
        |        WHERE $chunkShared
        |          AND bit_count(xor(t.sh_a, t.sh_b)) <= 3)
        |SELECT 'minhash_lsh' AS method, ${duckRecallExpr("mh.n_hit")}
        |FROM mh, jtn
        |UNION ALL
        |SELECT 'simhash' AS method, ${duckRecallExpr("sh2.n_hit")}
        |FROM sh2, jtn
        |ORDER BY method""".stripMargin
    },
    "q_lsh_tuning" -> {
      val k = MinhashBands * MinhashRows
      val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
      val agree = s"CAST(len(list_filter(range(1, ${k + 1}), " +
        s"i -> t.sig_a[i] = t.sig_b[i])) AS DOUBLE) / $k >= $MinhashMinAgree"
      def bandPred(bands: Int, rows: Int): String = (0 until bands).map { b =>
        (1 to rows).map(r => s"t.sig_a[${b * rows + r}] = t.sig_b[${b * rows + r}]")
          .mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
      def block(bands: Int, rows: Int): String =
        s"""h_${bands}_$rows AS (
           |  SELECT count(*) AS n_hit FROM tp t
           |  WHERE ${bandPred(bands, rows)} AND $agree),
           |w_${bands}_$rows AS (
           |  SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
           |           AS candidate_pairs
           |  FROM (SELECT count(*) AS m
           |        FROM (SELECT b, sig[b * $rows + 1 : b * $rows + $rows] AS sl
           |              FROM msig, unnest(range(0, $bands)) AS u(b))
           |        GROUP BY b, sl))""".stripMargin
      def row(bands: Int, rows: Int): String =
        s"""SELECT CAST($bands AS INT) AS bands, CAST($rows AS INT) AS "rows",
           |       ${duckRecallExpr("h.n_hit")},
           |       w.candidate_pairs
           |FROM h_${bands}_$rows h, w_${bands}_$rows w, jtn""".stripMargin
      s"""WITH ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |${duckJaccardTruthCtes()},
        |tp AS MATERIALIZED (
        |  SELECT sa.sig AS sig_a, sb.sig AS sig_b
        |  FROM jt JOIN msig sa ON sa.doc_id = jt.doc_a
        |          JOIN msig sb ON sb.doc_id = jt.doc_b),
        |${configs.map { case (b, r) => block(b, r) }.mkString(",\n")}
        |${configs.map { case (b, r) => row(b, r) }.mkString("\nUNION ALL\n")}
        |ORDER BY bands, "rows"""".stripMargin
    },
    "q_minhash_lsh" -> {
      val k = MinhashBands * MinhashRows
      s"""WITH ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |mcand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM mband a JOIN mband b
        |    ON ${duckBandEq(MinhashRows)} AND a.doc_id < b.doc_id),
        |mver AS (
        |  SELECT doc_a, doc_b,
        |         len(list_filter(range(1, ${k + 1}),
        |                         i -> sa.sig[i] = sb.sig[i])) AS m
        |  FROM mcand JOIN msig sa ON sa.doc_id = doc_a
        |             JOIN msig sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b,
        |       floor(CAST(m AS DOUBLE) / $k * 10000 + 0.5) / 10000.0
        |         AS est_jaccard
        |FROM mver WHERE CAST(m AS DOUBLE) / $k >= $MinhashMinAgree
        |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_minhash_components" ->
      s"""WITH RECURSIVE ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |$duckComponentCtes
        |SELECT doc_id, cluster_rep,
        |       CAST(cluster_rep = doc_id AS INT) AS is_rep
        |FROM mcomp
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |$duckComponentCtes,
        |$duckKeepBestCtes
        |SELECT doc_id, cluster_rep, quality_ok, n_tokens, best_doc, keep
        |FROM mkeep ORDER BY doc_id""".stripMargin,
    "q_keep_best_stats" ->
      s"""WITH RECURSIVE ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |$duckComponentCtes,
        |$duckKeepBestCtes
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(k.keep) AS BIGINT) AS n_kept,
        |       floor(CAST(sum(k.keep) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |         / 1000000.0 AS kept_frac
        |FROM mkeep k JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin,
    "q_minhash_incremental" -> {
      val k = MinhashBands * MinhashRows
      s"""WITH ${duckMinhashCtes(MinhashBands, MinhashRows)},
        |mkb AS MATERIALIZED (
        |  SELECT doc_id, b, ${(0 until MinhashRows).map(r => s"r$r").mkString(", ")},
        |         ${duckIsKnown("doc_id")} AS is_known
        |  FROM mband),
        |mhit AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS corpus_id
        |  FROM (SELECT * FROM mkb WHERE NOT is_known) a
        |  JOIN (SELECT * FROM mkb WHERE is_known) b
        |    ON ${duckBandEq(MinhashRows)}),
        |magree AS (
        |  SELECT h.doc_id, h.corpus_id,
        |         len(list_filter(range(1, ${k + 1}),
        |                         i -> sa.sig[i] = sb.sig[i])) AS m
        |  FROM mhit h JOIN msig sa ON sa.doc_id = h.doc_id
        |              JOIN msig sb ON sb.doc_id = h.corpus_id),
        |mbest AS (
        |  SELECT doc_id, corpus_id, m,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY m DESC, corpus_id) AS rn
        |  FROM magree WHERE CAST(m AS DOUBLE) / $k >= $MinhashMinAgree)
        |SELECT d.doc_id, bb.corpus_id AS dup_of,
        |       coalesce(floor(CAST(bb.m AS DOUBLE) / $k * 10000 + 0.5)
        |                / 10000.0, 0.0) AS best_est_jaccard,
        |       CAST(bb.corpus_id IS NOT NULL AS INT) AS dropped
        |FROM documents d
        |LEFT JOIN (SELECT * FROM mbest WHERE rn = 1) bb USING (doc_id)
        |WHERE NOT ${duckIsKnown("d.doc_id")}
        |ORDER BY d.doc_id""".stripMargin
    },
    "q_simhash_clusters" ->
      s"""WITH $duckSimhashCtes,
        |${duckSimhashNeighborCtes()}
        |SELECT d.doc_id, n.cluster_rep, d.sh AS simhash
        |FROM ssh d JOIN snb n USING (sh)
        |ORDER BY d.doc_id""".stripMargin,
    "q_simhash_components" ->
      s"""WITH RECURSIVE $duckSimhashCtes,
        |${duckSimhashNeighborCtes()},
        |sedge AS (
        |  SELECT a.sh AS a, b.sh AS b
        |  FROM schunk a JOIN schunk b ON a.c = b.c AND a.ck = b.ck
        |  WHERE a.sh <> b.sh AND bit_count(xor(a.sh, b.sh)) <= 3),
        |sreach AS (
        |  SELECT a, b FROM sedge
        |  UNION
        |  SELECT r.a, e.b FROM sreach r JOIN sedge e ON e.a = r.b
        |  WHERE e.b <> r.a),
        |scomp AS (
        |  SELECT u.sh,
        |         least(u.sh, coalesce(min(r.b), u.sh)) AS component
        |  FROM suniq u LEFT JOIN sreach r ON r.a = u.sh
        |  GROUP BY u.sh),
        |srep AS (
        |  SELECT c.component, min(u.rep) AS cluster_rep
        |  FROM scomp c JOIN suniq u USING (sh)
        |  GROUP BY c.component)
        |SELECT d.doc_id, sr.cluster_rep, d.sh AS simhash
        |FROM ssh d
        |JOIN scomp sc USING (sh)
        |JOIN srep sr USING (component)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dup_ngram_coverage" ->
      s"""WITH $duckCoverageGramCtes,
        |dup AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |  GROUP BY gram HAVING count(*) >= $DefaultCoverageMinDocs),
        |cov AS (
        |  SELECT doc_id, count(*) AS n_dup
        |  FROM g JOIN dup USING (gram) GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN text IS NULL THEN 0
        |              ELSE greatest(len(string_split(text, ' ')) - ${DefaultCoverageN - 1}, 0)
        |         END AS n_ngrams
        |  FROM documents)
        |SELECT base.doc_id, base.lang,
        |       CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |       CAST(coalesce(cov.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
        |       CASE WHEN n_ngrams > 0
        |            THEN floor(CAST(coalesce(cov.n_dup, 0) AS DOUBLE) / n_ngrams
        |                       * 1000000 + 0.5) / 1000000.0 END AS dup_frac
        |FROM base LEFT JOIN cov USING (doc_id)
        |ORDER BY base.doc_id""".stripMargin,
    "q_dup_ngram_stats" ->
      s"""WITH $duckCoverageGramCtes,
        |census AS (
        |  SELECT gram, count(*) AS nd
        |  FROM (SELECT DISTINCT doc_id, gram FROM g) GROUP BY gram),
        |dup AS (SELECT gram FROM census WHERE nd >= $DefaultCoverageMinDocs),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |tg AS (SELECT CAST(count(*) AS BIGINT) AS n_grams FROM g),
        |dg AS (SELECT count(*) AS n_dup_grams FROM dup),
        |cv AS (SELECT CAST(count(*) AS BIGINT) AS n_covered
        |       FROM g JOIN dup USING (gram))
        |SELECT n_docs, n_grams, n_dup_grams, n_covered,
        |       CASE WHEN n_grams > 0
        |            THEN floor(CAST(n_covered AS DOUBLE) / n_grams
        |                       * 1000000 + 0.5) / 1000000.0 END AS covered_frac
        |FROM tot, tg, dg, cv""".stripMargin,
    // groups by the gram STRING where the operator groups by its
    // xxhash64 — the green hash is the collision canary; 1-based
    // positions here, 0-based in the operator (pure internals, the
    // coverage predicate i ∈ [j-n+1, j] is the same relation).
    // Generated per span length (the winnowTuning generated-SQL
    // discipline): the registered n=10 form AND the ExactSubstr-
    // realistic n=50 cost point check against the same template.
    "q_dup_span_scrub" ->
      dupSpanScrubSql(DefaultCoverageN, DefaultCoverageMinDocs),
    "q_dup_span_scrub_n50" ->
      dupSpanScrubSql(50, DefaultCoverageMinDocs),
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin,
    "q_dedup_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
        |       count(*) - count(DISTINCT md5(text)) AS n_dupes
        |FROM documents""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, source,
        |         md5(coalesce(CASE WHEN ((doc_id % 7) + 7) % 7 = 0
        |                           THEN reverse(text) ELSE text END, '')) AS h
        |  FROM documents WHERE ((doc_id % 2) + 2) % 2 = 0),
        |n AS (
        |  SELECT doc_id, source, md5(coalesce(text, '')) AS h
        |  FROM documents WHERE ((doc_id % 3) + 3) % 3 <> 0),
        |j AS (
        |  SELECT coalesce(n.source, o.source) AS source,
        |         CASE WHEN o.h IS NULL THEN 'added'
        |              WHEN n.h IS NULL THEN 'removed'
        |              WHEN o.h <> n.h THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT source,
        |       count(CASE WHEN status = 'added' THEN 1 END) AS n_added,
        |       count(CASE WHEN status = 'removed' THEN 1 END) AS n_removed,
        |       count(CASE WHEN status = 'changed' THEN 1 END) AS n_changed,
        |       count(CASE WHEN status = 'unchanged' THEN 1 END) AS n_unchanged
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH g AS (
        |  SELECT doc_id, md5(text) AS content_md5,
        |         ${duckIsKnown("doc_id")} AS is_known
        |  FROM documents),
        |known AS (SELECT DISTINCT content_md5 FROM g WHERE is_known),
        |b AS (SELECT doc_id, content_md5 FROM g WHERE NOT is_known),
        |e AS (SELECT content_md5, min(doc_id) AS keep_id FROM b GROUP BY 1)
        |SELECT b.doc_id, b.content_md5,
        |       CASE WHEN k.content_md5 IS NOT NULL THEN 'corpus'
        |            WHEN b.doc_id <> e.keep_id THEN 'batch' END AS dup_of,
        |       CAST(k.content_md5 IS NULL
        |            AND (e.keep_id IS NULL OR b.doc_id = e.keep_id) AS INT) AS kept
        |FROM b
        |LEFT JOIN known k USING (content_md5)
        |LEFT JOIN e USING (content_md5)
        |ORDER BY b.doc_id""".stripMargin,
    "q_passage_dedup_stats" ->
      s"""WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (
        |  SELECT w, unnest(range(0, CAST(ceil(len(w) / $DefaultPassageWindow.0) AS BIGINT))) AS ci
        |  FROM d),
        |p AS (
        |  SELECT array_to_string(w[ci*$DefaultPassageWindow+1 : ci*$DefaultPassageWindow+$DefaultPassageWindow], ' ') AS passage
        |  FROM c),
        |g AS (SELECT passage, count(*) AS n FROM p GROUP BY passage),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |tp AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_passages FROM g),
        |du AS (SELECT count(*) AS n_dup_passages,
        |              CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dropped
        |       FROM g WHERE n >= $DefaultPassageMinDup)
        |SELECT n_docs, n_passages, n_dup_passages, n_dropped,
        |       floor(CAST(n_dropped AS DOUBLE) / n_passages * 1000000 + 0.5)
        |         / 1000000.0 AS drop_frac
        |FROM tot, tp, du""".stripMargin,
    "q_dup_passages" ->
      s"""WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (
        |  SELECT w, unnest(range(0, CAST(ceil(len(w) / $DefaultPassageWindow.0) AS BIGINT))) AS ci
        |  FROM d),
        |p AS (
        |  SELECT array_to_string(w[ci*$DefaultPassageWindow+1 : ci*$DefaultPassageWindow+$DefaultPassageWindow], ' ') AS passage
        |  FROM c)
        |SELECT passage, count(*) AS n_occurrences
        |FROM p GROUP BY passage HAVING count(*) >= $DefaultPassageMinDup
        |ORDER BY passage""".stripMargin,
    // groups by the passage STRING where the operator groups by its
    // xxhash64 — the green hash is the collision canary (see scaladoc)
    "q_passage_dedup" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN text IS NOT NULL THEN string_split(text, ' ') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, CAST(ceil(len(w) / $DefaultPassageWindow.0) AS BIGINT))) AS ci
        |  FROM d),
        |p AS (
        |  SELECT doc_id, ci,
        |         array_to_string(w[ci*$DefaultPassageWindow+1 : ci*$DefaultPassageWindow+$DefaultPassageWindow], ' ') AS passage
        |  FROM c),
        |dup AS (SELECT passage FROM p GROUP BY passage
        |        HAVING count(*) >= $DefaultPassageMinDup),
        |dr AS (SELECT p.doc_id, count(*) AS n_dropped
        |       FROM p JOIN dup USING (passage) GROUP BY p.doc_id),
        |keep AS (
        |  SELECT p.doc_id,
        |         array_to_string(list(p.passage ORDER BY p.ci)
        |           FILTER (WHERE dup.passage IS NULL), ' ') AS text_clean
        |  FROM p LEFT JOIN dup ON p.passage = dup.passage
        |  GROUP BY p.doc_id)
        |SELECT d.doc_id, d.lang,
        |       CAST(coalesce(ceil(len(w) / $DefaultPassageWindow.0), 0) AS INT) AS n_passages,
        |       CAST(coalesce(dr.n_dropped, 0) AS INT) AS n_dropped,
        |       CASE WHEN d.w IS NOT NULL
        |            THEN coalesce(keep.text_clean, '') END AS text_clean
        |FROM d
        |LEFT JOIN dr USING (doc_id)
        |LEFT JOIN keep USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH ${duckJaccardTruthCtes()}
        |SELECT doc_a, doc_b, common,
        |       floor(CAST(common AS DOUBLE) / (n_a + n_b - common) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM jpairs
        |WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
  )
}
