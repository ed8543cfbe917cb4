package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Byte-pair-encoding tokenizer induction — learn the merge table from
  * the corpus (public recipe: Sennrich, Haddow & Birch 2016, "Neural
  * Machine Translation of Rare Words with Subword Units": start from
  * characters, repeatedly merge the most frequent adjacent symbol pair)
  * and segment the corpus under the learned vocabulary. This upgrades
  * the engine's token accounting from the BPE-ish regex to an actual
  * learned subword vocabulary.
  *
  * Spark-first shape (the 100 TB argument): the corpus is scanned ONCE
  * to build the word-frequency vocabulary; every merge iteration runs
  * over that TYPE frame (unique words — orders of magnitude smaller
  * than the corpus), as `nMerges` bounded rounds of
  * pair-count → 1-row argmax → symbol-fold, with an eager
  * [[graft.Materialize.now]] per round to truncate the iterative
  * lineage, the superseded round released at once (the
  * [[Similarity]] Lloyd-rounds discipline; the driver holds exactly one
  * row per round). Segmentation never re-walks documents per token:
  * token counts come from JOINING doc tokens to the merged vocabulary
  * (segment the types, count the tokens — how production tokenizers
  * batch).
  *
  * Determinism + portability: pair counts are exact integer sums;
  * argmax ties break (count DESC, sym_a, sym_b) in both engines; merge
  * application is greedy leftmost non-overlapping — a single
  * `aggregate` fold over the symbol array in Spark, provably equal to
  * DuckDB's `replace` over a control-char-wrapped symbol string (both
  * scan left to right and never re-match inside a replacement). The
  * whole family is oracle-checked via GENERATED SQL (one CTE stage per
  * merge round — the [[TextAnalytics.winnowTuning]] generated-oracle
  * discipline).
  *
  * Deviation, documented: no end-of-word marker (Sennrich's `</w>`) —
  * marker-ful BPE is a pre-transform appending one sentinel symbol per
  * word and changes nothing structural here; the synthetic corpus's
  * whitespace tokens keep the demo registration marker-free.
  */
object Bpe {

  /** Registered-query defaults, interpolated into the generated oracle
    * (repo convention). 8 merges is demo-sized against the synthetic
    * 31-word vocabulary; real tokenizers run 10⁴–10⁵ merges. Round 13
    * closed the round-count concern both ways: [[learn]] accepts a
    * whole [[acceptBatch]] of pairwise-disjoint merges per driver
    * round (byte-identical to sequential, ~batch× fewer rounds), and
    * [[learnSampled]] learns the table from the driver-side type
    * census with ZERO Spark jobs per merge, applying it distributed.
    */
  val DefaultMerges = 8

  /** The word-frequency vocabulary with each word as its character
    * symbol array — the type frame every merge round iterates on.
    * Empty tokens (consecutive spaces) are excluded in BOTH engines:
    * they have no characters and would only add a zero-pair row.
    */
  private def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), split(col("tok"), "").as("syms"))

  /** Adjacent symbol pairs of one vocab frame, weighted by word count. */
  private def pairCounts(voc: DataFrame): DataFrame =
    voc.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("sym_a"),
          element_at(col("syms"), i + 1).as("sym_b")))).as("p"))
      .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
      .agg(sum(col("cnt")).as("n"))

  /** Greedy leftmost non-overlapping application of one merge (a, b) →
    * ab to a symbol array: one `aggregate` fold — the lambda variables
    * are bound values, and the input array is consumed exactly once
    * (the [[TextAnalytics.winnowFpArray]] cost rule). Also the
    * streaming segmenter's building block: chaining N of these keeps
    * each fold's input consumed once, so a full merge-table application
    * is N× linear, never multiplicative.
    */
  /** Unsigned-byte lexicographic `<` over the UTF-8 encodings — the
    * collation Spark's `orderBy` on strings and DuckDB's binary
    * collation share (Java `String.compareTo` does NOT: it compares
    * UTF-16 code units, which reorders supplementary-plane symbols
    * against U+E000..U+FFFF).
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val x = ab(i) & 0xFF
      val y = bb(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    ab.length < bb.length
  }

  private[graft] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) >= 1 && element_at(acc, -1) === a && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** One learned merge round: (rank, sym_a, sym_b, merged, pair_count). */
  private case class Merge(rank: Int, a: String, b: String, n: Long)

  /** Batched-merge fan-in: how many ranked pair rows each driver round
    * fetches (the batch can accept at most `MergeBatchFetch − 1` merges
    * — the last fetched row is the tie boundary). Production
    * tokenizers run 10⁴–10⁵ merges; batching cuts the sequential
    * driver-round count by the accepted-batch size with BYTE-IDENTICAL
    * output (see [[acceptBatch]]), so the wall-clock knob is this
    * constant, not correctness.
    */
  val MergeBatchFetch = 33

  /** The provably-sequential-equal batch acceptance rule over one
    * round's ranked pair list (ordered n DESC, sym_a, sym_b):
    *
    *   1. accept a PREFIX that is pairwise symbol-disjoint — stop at
    *      the first row sharing a symbol with any earlier row;
    *   2. truncate to rows with count STRICTLY ABOVE every conflicting
    *      or unseen count (the first conflict's n, and the last fetched
    *      row's n when the fetch may have truncated the list).
    *
    * Why this equals sequential BPE byte-for-byte: applying an accepted
    * merge (a, b) → ab never increases any old pair's count, and every
    * NEW pair it creates ((x, ab) or (ab, y)) inherits count ≤ the
    * round-1 count of a pair that SHARES a symbol with (a, b) — which
    * rule 2 bounds strictly below every later accepted row. Old pairs
    * ranked above a later accepted row would have been in the prefix
    * (contradiction), so each accepted row is still the exact
    * (n DESC, sym_a, sym_b) argmax of its own sequential round. The
    * tie case rule 2 guards: a new pair tying an accepted row's count
    * can win the lexicographic tiebreak (e.g. (ab, y) sorts before
    * (m, n) when a < m ≤ b), which is exactly a conflict-count equal
    * to an accepted count — excluded. Worst case (all counts tied)
    * accepts one row — plain sequential BPE.
    */
  private[graft] def acceptBatch(
      ranked: Seq[(String, String, Long)], truncated: Boolean): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val prefix = Seq.newBuilder[(String, String, Long)]
    var conflictN = if (truncated) ranked.last._3 else Long.MinValue
    var stopped = false
    for (row @ (a, b, n) <- ranked if !stopped) {
      if (used(a) || used(b) || used(a + b)) {
        conflictN = math.max(conflictN, n)
        stopped = true
      } else {
        used += a; used += b; used += (a + b)
        prefix += row
      }
    }
    val accepted = prefix.result().takeWhile(_._3 > conflictN)
    if (accepted.nonEmpty) accepted else ranked.take(1)
  }

  /** The learned rounds plus the final merged vocabulary — shared by all
    * registered queries so they cannot desynchronize. Each driver round
    * fetches the top [[MergeBatchFetch]] ranked pairs (one bounded
    * collect — the same class of decision the 1-row argmax was) and
    * applies every [[acceptBatch]]-accepted merge in one distributed
    * pass: symbol-disjoint merges touch disjoint positions, so chained
    * [[applyMerge]] folds equal the sequential rounds exactly.
    */
  private def learn(spark: SparkSession, dir: String,
      nMerges: Int): (Seq[Merge], DataFrame) = {
    var voc = Materialize.now(vocab(spark, dir))
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val ranked = pairCounts(voc)
        .orderBy(col("n").desc, col("sym_a"), col("sym_b"))
        .limit(MergeBatchFetch).collect() // the bounded driver decision
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        .toSeq
      if (ranked.isEmpty) exhausted = true
      else {
        val accepted = acceptBatch(ranked, ranked.size == MergeBatchFetch)
          .take(nMerges - r + 1) // never overshoot the merge budget
        accepted.foreach { case (a, b, n) =>
          merges += Merge(r, a, b, n)
          r += 1
        }
        val prev = voc
        val mergedSyms = accepted.foldLeft(col("syms")) {
          case (c, (a, b, _)) => applyMerge(c, a, b)
        }
        voc = Materialize.now(voc.select(col("cnt"), mergedSyms.as("syms")))
        Materialize.release(prev)
      }
    }
    (merges.result(), voc)
  }

  /** Corpus-size threshold above which [[learnSampled]] is the
    * recommended mode (full type frames below it fit a driver census
    * comfortably).
    */
  val SampleTypesDefault = 100000

  /** The documented 10⁴–10⁵-merge scale mode: learn the merge table
    * from the weighted TOP-`sampleTypes` word types pulled to the
    * driver (the census-sized collect the repo already sanctions for
    * Bloom/census gates) with an in-memory sequential BPE loop — zero
    * Spark jobs per round — then APPLY the learned table distributed
    * (the type-join segmentation of [[bpeTokenCounts]] is unchanged).
    * Deviation from exact corpus BPE: merges are learned from the head
    * of the type distribution; with `sampleTypes` ≥ the full type
    * count it is byte-identical to [[learn]] (spec-pinned), and the
    * head carries almost all pair mass under any Zipfian corpus — the
    * standard industrial trade (HuggingFace tokenizers' trainer
    * truncates the same way).
    */
  def learnSampled(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges,
      sampleTypes: Int = SampleTypesDefault): Seq[(String, String)] =
    learnSampledRounds(spark, dir, nMerges, sampleTypes)
      .map(m => (m.a, m.b))

  private def learnSampledRounds(spark: SparkSession, dir: String,
      nMerges: Int, sampleTypes: Int): Seq[Merge] = {
    var types = vocab(spark, dir)
      .orderBy(col("cnt").desc, array_join(col("syms"), "").asc)
      .limit(sampleTypes).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    val out = Seq.newBuilder[Merge]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      types.foreach { case (c, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // the exact sequential argmax rule: (n DESC, sym_a, sym_b) —
        // with sym ties broken in UTF-8 BYTE order (utf8Lt), not Java
        // String order: String.compareTo compares UTF-16 code units, so
        // a supplementary-plane symbol (surrogates 0xD83D…) sorts BELOW
        // U+E000..U+FFFF there but ABOVE it in the UTF-8 binary order
        // Spark's orderBy(sym) and DuckDB's collation both use — a
        // count-tied pair between such symbols would desynchronize the
        // sampled learner from its sequential oracle
        val ((a, b), n) = counts.reduceLeft { (best, cand) =>
          val ((bx, by), bm) = best
          val ((cx, cy), cm) = cand
          val keep =
            if (cm != bm) cm > bm
            else if (cx != bx) utf8Lt(cx, bx)
            else utf8Lt(cy, by)
          if (keep) cand else best
        }
        r += 1
        out += Merge(r, a, b, n)
        // greedy leftmost non-overlapping — the applyMerge fold's rule
        types = types.map { case (c, syms) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              buf += (a + b); i += 2
            } else { buf += syms(i); i += 1 }
          }
          (c, buf.toArray)
        }
      }
    }
    out.result()
  }

  /** Registered form of the sampled learner: the merge table learned
    * from the driver-side top-[[SampleTypesDefault]] type census. At
    * the oracle SFs the census covers the ENTIRE type frame, so the
    * oracle is the same generated sequential-round SQL as
    * q_bpe_merges — the cross-engine check that the scale mode and the
    * exact mode produce the identical table when the sample is total.
    */
  def learnMergesSampled(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges,
      sampleTypes: Int = SampleTypesDefault): DataFrame = {
    import spark.implicits._
    learnSampledRounds(spark, dir, nMerges, sampleTypes)
      .map(m => (m.rank, m.a, m.b, m.a + m.b, m.n))
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** The frozen-model export for streaming consumers (the
    * [[Dsir.logRatios]] device): the learned merge pairs in application
    * order, as driver values a stateless gate can compile into its
    * per-row expression.
    */
  def mergePairs(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges): Seq[(String, String)] =
    learn(spark, dir, nMerges)._1.map(m => (m.a, m.b))

  /** The learned merge table: one row per round, ranked. */
  def learnMerges(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges): DataFrame = {
    import spark.implicits._
    val (merges, _) = learn(spark, dir, nMerges)
    merges.map(m => (m.rank, m.a, m.b, m.a + m.b, m.n))
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** The subword vocabulary AFTER the learned merges: every surviving
    * symbol with its corpus occurrence count — the frame whose size vs
    * the character alphabet measures what the merges bought.
    */
  def bpeVocab(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges): DataFrame = {
    val (_, voc) = learn(spark, dir, nMerges)
    voc.select(col("cnt"), explode(col("syms")).as("symbol"))
      .groupBy("symbol").agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy("symbol")
  }

  /** Per-document token counts under the learned BPE vocabulary —
    * whitespace tokens vs subword tokens per doc, the real form of the
    * brief's "BPE-ish token counting". Segmentation is a TYPE join:
    * each word type's subword length comes from the merged vocab frame
    * (broadcast — vocab-sized), so no document is re-segmented
    * per-token. NULL-text docs report zero counts (the content-neutral
    * rule).
    */
  def bpeTokenCounts(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges): DataFrame = {
    val (_, voc) = learn(spark, dir, nMerges)
    val typeLen = voc.select(array_join(col("syms"), "").as("tok"),
      size(col("syms")).cast("long").as("n_sub"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode_outer(
        when(col("text").isNotNull,
          filter(split(col("text"), " "), t => t =!= ""))).as("tok"))
      .join(broadcast(typeLen), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(col("tok")).as("n_words"),
        coalesce(sum(col("n_sub")), lit(0L)).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Per-source compression under the learned vocabulary — chars per BPE
    * token, the standard tokenizer-quality signal (higher = the merges
    * capture more of that source's regularity; a source that resists
    * compression is morphologically out-of-domain for this vocab).
    * chars = non-space characters (summed per word occurrence through
    * the same type join as [[bpeTokenCounts]]); sources whose docs are
    * all NULL-text have no tokens and are absent by contract (the
    * sourceDatasheet rule). The ratio is ONE division of exactly-
    * represented integer sums, portable-rounded — oracle-checkable.
    */
  def bpeCompression(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges): DataFrame = {
    val (_, voc) = learn(spark, dir, nMerges)
    val typeLen = voc.select(array_join(col("syms"), "").as("tok"),
      size(col("syms")).cast("long").as("n_sub"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .join(broadcast(typeLen), Seq("tok"))
      .groupBy("source")
      .agg(sum(length(col("tok"))).as("n_chars"),
        count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        graft.functions.PortableRound.r(
          col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 4))
      .orderBy("source")
  }

  // ------------------------------------------------------------- oracle

  /** Wrapped-symbol string machinery: every symbol is wrapped
    * chr(1)·sym·chr(2), so a pair pattern can never straddle a symbol
    * boundary and DuckDB `replace` (leftmost non-overlapping) applies a
    * merge exactly like the Spark fold.
    *
    * Assumption, documented: source text contains no U+0001/U+0002
    * control characters — a symbol containing either would desync the
    * wrapping (the Spark fold has no such reserved characters). The
    * char-wrap regex runs with the `s` (dotall) flag so a newline
    * inside a token (text splits on spaces only) wraps like any other
    * character instead of silently escaping its wrapper.
    */
  private def dWrap(s: String) = s"chr(1) || $s || chr(2)"

  /** Generated oracle chain: v0 = char-wrapped word vocab; per round i,
    * p{i} = weighted adjacent-pair counts, s{i} = the argmax row,
    * v{i} = the vocab with that merge applied. Returns (CTE chain,
    * final vocab CTE name, per-round sel names). Every CTE is
    * MATERIALIZED: s{i} is referenced twice inside v{i} and each round
    * chains on the previous vocab, so DuckDB's default inline-CTE
    * planning would re-evaluate the chain ~3^N times.
    */
  private def bpeCtes(nMerges: Int): (String, String, Seq[String]) = {
    val sb = new StringBuilder
    sb.append(
      s"""v0 AS MATERIALIZED (
         |  SELECT count(*) AS cnt,
         |         regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(2), 'gs') AS w
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
         |        FROM documents WHERE text IS NOT NULL)
         |  WHERE tok <> '' GROUP BY tok)""".stripMargin)
    val sels = (1 to nMerges).map { i =>
      val prev = s"v${i - 1}"
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT s[j] AS sym_a, s[j + 1] AS sym_b,
        |         CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT cnt,
        |               string_split(substring(w, 2, length(w) - 2),
        |                            chr(2) || chr(1)) AS s
        |        FROM $prev WHERE length(w) >= 2) t,
        |       unnest(range(1, len(s))) AS u(j)
        |  WHERE len(s) >= 2
        |  GROUP BY 1, 2),
        |s$i AS MATERIALIZED (SELECT sym_a, sym_b, n FROM p$i
        |        ORDER BY n DESC, sym_a, sym_b LIMIT 1),
        |v$i AS MATERIALIZED (
        |  SELECT cnt,
        |         replace(w,
        |           (SELECT ${dWrap("sym_a")} || ${dWrap("sym_b")} FROM s$i),
        |           (SELECT ${dWrap("sym_a || sym_b")} FROM s$i)) AS w
        |  FROM $prev)""".stripMargin)
      s"s$i"
    }
    (sb.toString, s"v$nMerges", sels)
  }

  val oracles: Map[String, String] = {
    val (ctes, vFinal, sels) = bpeCtes(DefaultMerges)
    val mergeRows = sels.zipWithIndex.map { case (s, i) =>
      s"""SELECT ${i + 1} AS merge_rank, sym_a, sym_b,
         |       sym_a || sym_b AS merged, n AS pair_count FROM $s""".stripMargin
    }.mkString("\nUNION ALL\n")
    // tl(tok, n_sub): each word's BPE token count under the final vocab
    val tlCte =
      s"""tl AS (
         |  SELECT replace(replace(w, chr(1), ''), chr(2), '') AS tok,
         |         CAST(len(string_split(substring(w, 2, length(w) - 2),
         |                               chr(2) || chr(1))) AS BIGINT)
         |           AS n_sub
         |  FROM $vFinal WHERE length(w) >= 2)""".stripMargin
    val mergesSql =
      s"""WITH $ctes
         |SELECT * FROM ($mergeRows) ORDER BY merge_rank""".stripMargin
    Map(
      "q_bpe_merges" -> mergesSql,
      // the sampled learner's census is total at oracle SFs, so the
      // SEQUENTIAL oracle must reproduce it exactly (see
      // learnMergesSampled)
      "q_bpe_merges_sampled" -> mergesSql,
      "q_bpe_vocab" ->
        s"""WITH $ctes
           |SELECT sym AS symbol, CAST(sum(cnt) AS BIGINT) AS n_occurrences
           |FROM (SELECT cnt,
           |             unnest(string_split(substring(w, 2, length(w) - 2),
           |                                 chr(2) || chr(1))) AS sym
           |      FROM $vFinal WHERE length(w) >= 2)
           |GROUP BY sym ORDER BY sym""".stripMargin,
      "q_bpe_compression" ->
        s"""WITH $ctes,
           |$tlCte,
           |dt AS (
           |  SELECT source, unnest(list_filter(string_split(text, ' '),
           |                                    t -> t <> '')) AS tok
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT dt.source,
           |       CAST(sum(length(dt.tok)) AS BIGINT) AS n_chars,
           |       CAST(count(*) AS BIGINT) AS n_words,
           |       CAST(sum(tl.n_sub) AS BIGINT) AS n_bpe_tokens,
           |       floor(CAST(sum(length(dt.tok)) AS DOUBLE)
           |             / sum(tl.n_sub) * 10000 + 0.5) / 10000.0
           |         AS chars_per_token
           |FROM dt JOIN tl USING (tok)
           |GROUP BY dt.source ORDER BY dt.source""".stripMargin,
      "q_bpe_token_counts" ->
        s"""WITH $ctes,
           |$tlCte,
           |dt AS (
           |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |                                    t -> t <> '')) AS tok
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT d.doc_id,
           |       CAST(count(dt.tok) AS BIGINT) AS n_words,
           |       CAST(coalesce(sum(tl.n_sub), 0) AS BIGINT) AS n_bpe_tokens
           |FROM documents d
           |LEFT JOIN dt ON dt.doc_id = d.doc_id
           |LEFT JOIN tl ON tl.tok = dt.tok
           |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)
  }
}
