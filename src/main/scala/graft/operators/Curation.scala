package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs over raw documents, as one operator: quality gate →
  * exact dedup (first-id-wins among quality survivors) → deterministic
  * train/val/test assignment, with a companion funnel rollup. Each stage
  * reuses the exact formulas of its standalone operator
  * ([[TextAnalytics.qualityScores]], [[Dedup.exactGroups]],
  * [[TextAnalytics.hashSplitDocs]]), so the composed decisions stay
  * cross-engine deterministic, and the text-only pipeline
  * ([[curateDocs]]/[[curationStats]]) is fully oracle-checkable in SQL.
  * Only the optional semantic stage ([[curateWithEmbeddings]]) is
  * rows-only, for the same float-k-means reason as
  * [[Similarity.semanticDedup]].
  *
  * Decision semantics (precedence matters and is pinned by spec + oracle):
  *   - a quality failure drops first and never claims a dedup slot (a
  *     low-quality copy must not shadow a high-quality duplicate);
  *   - among quality-passing copies of byte-identical text, the smallest
  *     doc_id survives; the rest drop as `duplicate`;
  *   - every doc gets a split label (consumers filter `kept = 1`), so
  *     re-curation with different gates never reshuffles split
  *     membership — splits depend on doc_id alone.
  *
  * Scale shape: one scan computes tokens/quality/digest map-side, text is
  * projected away before any exchange, and the only data-sized shuffles
  * carry the 16-byte digest (groupBy + join) — same stance as
  * [[Dedup.exactGroups]], asserted for this operator in PlanSpec.
  */
object Curation {

  /** Per-document curation decision:
    * (doc_id, lang, n_tokens, split, drop_reason ∈ {quality, duplicate,
    * NULL}, kept ∈ {0,1}), at the registered quality gate and split
    * ([[TextAnalytics.QualityMinTokens]], [[TextAnalytics.SplitTrainPct]], …).
    */
  def curateDocs(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        // the ONE shared gate (rounded ratio, NULL text fails) — the
        // standalone scores, this pipeline, and the streaming twin all
        // consume TextAnalytics.qualityOk, so they cannot drift
        TextAnalytics.qualityOk(col("text")).as("quality_ok"),
        md5(col("text")).as("content_md5"))
      // both the keeper election and the decision join consume this frame,
      // and the quality filter on the election side defeats exchange
      // reuse — without materialization the corpus is scanned and
      // TOKENIZED twice (verified: 2 FileScans, 0 ReusedExchange). The
      // frame is slim (text already projected away), so one lazy
      // checkpoint halves the expensive map work.
      .transform(Materialize(_))
    val keepers = q.filter(col("quality_ok") === 1)
      .groupBy("content_md5").agg(min("doc_id").as("keep_id"))
    q.join(keepers, Seq("content_md5"), "left")
      .withColumn("drop_reason",
        when(col("quality_ok") === 0, "quality")
          .when(col("doc_id") =!= col("keep_id"), "duplicate"))
      .withColumn("kept", col("drop_reason").isNull.cast("int"))
      .withColumn("split", TextAnalytics.splitLabelExpr(col("doc_id")))
      .select("doc_id", "lang", "n_tokens", "split", "drop_reason", "kept")
      .orderBy("doc_id")
  }

  /** Full curation including the semantic stage — the complete
    * training-data decision chain over an id-aligned (doc_id = vec_id)
    * documents + embeddings pair: quality gate → exact text dedup →
    * SemDeDup semantic dedup ([[Similarity.semanticDedup]], bounded
    * candidates). Precedence extends [[curateDocs]]: a text-stage drop
    * reason wins; `semantic` applies only to text-surviving docs.
    *
    * Keeper-representation rule: a doc drops as `semantic` ONLY if its
    * elected keeper's content survives the text stages — the keeper was
    * kept, or it dropped as an exact `duplicate` (its byte-identical
    * twin survives in its place). If the keeper's content truly vanished
    * (quality-dropped), the member is RETAINED — conservative: keep the
    * member rather than silently losing the whole semantic group. Docs
    * without an embedding row keep their text-stage decision. The
    * semantic stage's cosine and cell count default to the registered
    * [[Similarity.SemanticMinCosine]] and [[Similarity.IvfCells]].
    *
    * Oracle-checked since round 13 (the semantic stage's integer-exact
    * Lloyd made its SQL twin nestable here); the
    * fixture spec pins all four decision classes. Scale shape: the text
    * side is [[curateDocs]]; the semantic side is the hard-bounded
    * [[Similarity.semanticDedup]]; composition adds two digest-or-id
    * keyed joins, nothing data-squared.
    */
  def curateWithEmbeddings(spark: SparkSession, dir: String,
      minCosine: Double = Similarity.SemanticMinCosine,
      nCells: Int = Similarity.IvfCells): DataFrame = {
    // consumed twice below (decision side + keeper-representation side):
    // materialize once, as everywhere else shared frames are
    val text = Materialize(curateDocs(spark, dir))
    val sem = Similarity.semanticDedup(spark, dir, minCosine, nCells)
      .select(col("vec_id").as("doc_id"), col("keep_id"))
    // a keeper's CONTENT survives if the keeper itself was kept, or if
    // it was dropped as an exact duplicate — its byte-identical text
    // twin survives in its place (resolving one step of the exact-text
    // chain; the md5 keeper among quality survivors is kept by
    // construction, so one step suffices)
    val keeperRepresented = text.select(col("doc_id").as("keep_id"),
      (col("kept") === 1 || col("drop_reason") === "duplicate")
        .as("keeper_represented"))
    text.join(sem, Seq("doc_id"), "left")
      .join(keeperRepresented, Seq("keep_id"), "left")
      .withColumn("drop_reason", coalesce(col("drop_reason"),
        when(col("keep_id").isNotNull && col("keep_id") =!= col("doc_id") &&
          col("keeper_represented"), "semantic")))
      .withColumn("kept", col("drop_reason").isNull.cast("int"))
      .select("doc_id", "lang", "n_tokens", "split", "keep_id", "drop_reason", "kept")
      .orderBy("doc_id")
  }

  /** The full hygiene-integrated curation pass — what a training-data
    * owner runs as ONE pipeline over raw documents: PII redaction →
    * quality gate → benchmark decontamination → exact dedup → split.
    *
    * PII scrubbing comes FIRST ([[Pii.redacted]]), so the quality gate,
    * the dedup digest, and the contamination shingles all see the text the
    * corpus would actually ship — two docs differing only in their PII
    * become byte-identical after redaction and dedup together (pinned by
    * spec). Drop precedence extends [[curateDocs]]:
    * `quality` → `contaminated` → `duplicate`; quality failures and
    * contaminated docs never claim a dedup keeper slot. (For the
    * content-derived contamination flag here, identical texts always
    * share a flag, so excluding contaminated docs from the election can't
    * strand a clean twin — the filter is the principled shape for
    * doc-level flags from an external benchmark.)
    *
    * Decontamination uses the oracle-checkable modulus benchmark of
    * [[Decontam.contamination]] over REDACTED shingles; swap in
    * [[Decontam.contaminatedFlags]] with an external benchmark frame for
    * the production form. Scale shape: ONE corpus scan computes
    * redaction (once per row, via codegen subexpression elimination) and
    * every column derived from it; the checkpointed frame never holds
    * the raw text — it does hold the shingle arrays (the decontam
    * probe's three-way input, the same materialization trade
    * [[Decontam.contamination]] itself makes; digest them to 8-byte
    * hashes before the checkpoint if that footprint matters more than
    * exact string overlap) — and all downstream shuffles carry only
    * digests, ids, and shingle matches.
    *
    * The knobs are the ones fixtures vary: the quality gate, the demo
    * benchmark modulus, the contamination fraction, and `benchNgrams` —
    * the production form, a real benchmark n-gram frame (broadcast, as in
    * [[Decontam.contaminationAgainst]]); None = the oracle-checkable
    * modulus demo over the redacted corpus. Shingle width and split are
    * the registered [[Decontam.DefaultN]] and [[TextAnalytics.SplitTrainPct]].
    */
  def curateDocsFull(spark: SparkSession, dir: String,
      minTokens: Int = TextAnalytics.QualityMinTokens,
      minStopwordRatio: Double = TextAnalytics.QualityMinRatio,
      benchModulus: Int = Decontam.DefaultBenchModulus,
      minFrac: Double = Decontam.DefaultMinFrac,
      benchNgrams: Option[DataFrame] = None): DataFrame =
    curateDocsFullDetailed(Tables.documents(spark, dir), minTokens,
      minStopwordRatio, benchModulus, minFrac, benchNgrams)
      .select("doc_id", "lang", "n_tokens", "split", "drop_reason", "kept")

  /** [[curateDocsFull]] over a docs frame, plus the internal columns
    * [[curateComplete]] composes on: `content_md5` (post-nd
    * content-survival checks) and `simhash` (fingerprints from the SAME
    * single scan — no re-scan, no re-redaction).
    */
  private def curateDocsFullDetailed(docs: DataFrame, minTokens: Int,
      minStopwordRatio: Double, benchModulus: Int, minFrac: Double,
      benchNgrams: Option[DataFrame]): DataFrame = {
    // ONE corpus pass computes everything derived from the redacted text
    // — token count, quality flag, digest, fingerprint, shingles — and
    // the checkpoint retains only those, never the text itself. The
    // collapsed projection embeds the redaction subtree in each derived
    // column; codegen's subexpression elimination evaluates it once per
    // row.
    val base = docs
      .select(col("doc_id"), col("lang"), Pii.redacted(col("text")).as("text"))
      .select(col("doc_id"), col("lang"),
        size(TextAnalytics.tokens(col("text"))).as("n_tokens"),
        TextAnalytics.qualityOk(col("text"), minTokens, minStopwordRatio)
          .as("quality_ok"),
        md5(col("text")).as("content_md5"),
        graft.functions.TextHashes.simhash62(TextAnalytics.tokens(col("text")))
          .as("simhash"),
        Dedup.shingleArray(col("text"), Decontam.DefaultN).as("shingles"))
      .transform(Materialize(_))
    val sh = base.select(col("doc_id"), col("lang"), col("shingles"))
      .filter(size(col("shingles")) > 0)
    val bench = benchNgrams
      .map(b => broadcast(b.select(col("shingle")).distinct()))
      .getOrElse(Decontam.modulusBench(sh, benchModulus))
    val contam = Decontam.contaminatedFlags(sh, bench, minFrac)
    val dec = base.drop("shingles")
      .join(contam, Seq("doc_id"), "left")
      // docs with < n words carry no shingles: explicitly clean
      .withColumn("contaminated", coalesce(col("contaminated"), lit(0)))
      // feeds the keeper election AND the decision join — the same
      // two-consumer materialization as curateDocs' q frame
      .transform(Materialize(_))
    val keepers = dec
      .filter(col("quality_ok") === 1 && col("contaminated") === 0)
      .groupBy("content_md5").agg(min("doc_id").as("keep_id"))
    dec.join(keepers, Seq("content_md5"), "left")
      .withColumn("drop_reason",
        when(col("quality_ok") === 0, "quality")
          .when(col("contaminated") === 1, "contaminated")
          .when(col("doc_id") =!= col("keep_id"), "duplicate"))
      .withColumn("kept", col("drop_reason").isNull.cast("int"))
      .withColumn("split", TextAnalytics.splitLabelExpr(col("doc_id")))
      .select("doc_id", "lang", "n_tokens", "split", "drop_reason", "kept",
        "content_md5", "simhash")
      .orderBy("doc_id")
  }

  /** Funnel rollup for [[curateDocsFull]] at its defaults —
    * [[curationStats]] plus the `n_contam_drop` stage column.
    */
  def curationStatsFull(spark: SparkSession, dir: String): DataFrame =
    curateDocsFull(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("drop_reason") === "quality", 1).otherwise(0)).as("n_quality_drop"),
        sum(when(col("drop_reason") === "contaminated", 1).otherwise(0)).as("n_contam_drop"),
        sum(when(col("drop_reason") === "duplicate", 1).otherwise(0)).as("n_dup_drop"),
        sum("kept").as("n_kept"))
      .orderBy("split")

  /** Text curation + SimHash near-dup stage — the lexical sibling of
    * [[curateWithEmbeddings]]: quality gate → exact dedup → near-dup drop
    * by [[Dedup.simhashClusters]] star clusters (order-invariant token
    * fingerprints, Manku-banded, linear output). Precedence and the
    * keeper-representation rule are IDENTICAL to the semantic stage: a
    * text-stage drop reason wins; a doc drops as `neardup` only when its
    * cluster rep's content survives the text stages (rep kept, or rep
    * dropped as exact `duplicate` with its byte-identical twin
    * surviving); if the rep's content vanished (quality-dropped), the
    * member is retained rather than silently losing the cluster.
    *
    * Oracle-checked since round 13 (the portable 62-bit simhash made
    * the cluster stage SQL-replayable); the fixture spec pins
    * all four decision classes plus the retention branch. Scale shape:
    * text side is [[curateDocs]]; cluster side shuffles distinct
    * fingerprints, not docs; composition adds two id-keyed joins.
    */
  def curateWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    // consumed twice (decision side + rep-representation side)
    val text = Materialize(curateDocs(spark, dir))
    val clusters = Dedup.simhashClusters(spark, dir)
      .select(col("doc_id"), col("cluster_rep"))
    val repRepresented = text.select(col("doc_id").as("cluster_rep"),
      (col("kept") === 1 || col("drop_reason") === "duplicate")
        .as("rep_represented"))
    text.join(clusters, Seq("doc_id"), "left")
      .join(repRepresented, Seq("cluster_rep"), "left")
      .withColumn("drop_reason", coalesce(col("drop_reason"),
        when(col("cluster_rep").isNotNull &&
          col("cluster_rep") =!= col("doc_id") &&
          col("rep_represented"), "neardup")))
      .withColumn("kept", col("drop_reason").isNull.cast("int"))
      .select("doc_id", "lang", "n_tokens", "split", "cluster_rep",
        "drop_reason", "kept")
      .orderBy("doc_id")
  }

  /** Passage-level curation — [[curateWithNearDups]] with the SimHash
    * whole-document clusters replaced by the winnow PASSAGE-sharing
    * components ([[TextAnalytics.winnowComponents]]): quality gate →
    * exact dedup → drop every non-representative member of a
    * transitive passage-sharing family whose representative's content
    * survives (`passage_dup`). Catches what whole-document near-dup
    * cannot: template families where each page wraps the same passages
    * in different filler never look alike globally, yet double-count
    * the shared token mass.
    *
    * Same precedence and representation rule as the near-dup stage
    * (rep kept, or rep dropped as exact `duplicate` — its byte twin
    * survives); docs without fingerprints keep their text-stage
    * decision. Unlike the SimHash and semantic stages this one is
    * ORACLE-CHECKED end to end — every ingredient (quality ratio, md5
    * election, split label, winnow closure) is portable, making it the
    * only similarity-stage curation with a cross-engine-verified
    * decision frame. Scale shape: [[curateDocs]] + the capped
    * component machinery, composed by id-keyed joins.
    */
  def curateWithPassages(spark: SparkSession, dir: String): DataFrame = {
    // consumed twice (decision side + rep-representation side)
    val text = Materialize(curateDocs(spark, dir))
    val clusters = TextAnalytics.winnowComponents(spark, dir)
      .select(col("doc_id"), col("cluster_rep"))
    val repRepresented = text.select(col("doc_id").as("cluster_rep"),
      (col("kept") === 1 || col("drop_reason") === "duplicate")
        .as("rep_represented"))
    text.join(clusters, Seq("doc_id"), "left")
      .join(repRepresented, Seq("cluster_rep"), "left")
      .withColumn("drop_reason", coalesce(col("drop_reason"),
        when(col("cluster_rep").isNotNull &&
          col("cluster_rep") =!= col("doc_id") &&
          col("rep_represented"), "passage_dup")))
      .withColumn("kept", col("drop_reason").isNull.cast("int"))
      .select("doc_id", "lang", "n_tokens", "split", "cluster_rep",
        "drop_reason", "kept")
      .orderBy("doc_id")
  }

  /** THE complete curation pass — every stage this engine implements, as
    * the one operator a training-data owner runs end to end:
    *
    *   PII redact → quality → decontam → exact dedup → lexical near-dup
    *   (SimHash clusters over the REDACTED text) → semantic dedup
    *   (SemDeDup over aligned embeddings)
    *
    * Drop precedence (each stage only labels docs the earlier stages
    * passed): `quality` > `contaminated` > `duplicate` > `neardup` >
    * `semantic`. Both similarity stages drop a member only while its
    * elected representative's CONTENT survives; the test differs by
    * stage because soundness demands it:
    *   - near-dup stage (evaluated on the text-stage decisions): rep
    *     kept, or rep dropped as exact `duplicate` — its md5 keeper is
    *     kept at that point by construction, so the one-step shortcut is
    *     exact;
    *   - semantic stage (evaluated AFTER the near-dup stage): the
    *     shortcut is no longer sound — an exact-`duplicate` keeper's md5
    *     twin may itself have been near-dup-dropped since. The stage
    *     therefore checks content survival directly: some doc with the
    *     keeper's `content_md5` is still kept post-nd.
    * A representative whose content truly vanished retains its members —
    * conservative, never a silent loss of the whole group. Docs without
    * an embedding row keep their earlier decision.
    *
    * Oracle-checked since round 13 — every stage (portable simhash over
    * REDACTED text, integer-exact semantic chain, content-survival
    * rule) replays in one composed SQL; the fixture spec pins all six
    * decision classes and all three retention branches. Scale shape:
    * text side is [[curateDocsFullDetailed]] — ONE corpus scan whose
    * checkpoint already carries the 8-byte fingerprints, so the cluster
    * stage re-reads nothing; the semantic side is the hard-bounded
    * [[Similarity.semanticDedup]]; composition adds id/digest-keyed
    * joins only. The pass is the whole [[completeStages]] list folded
    * over the corpus. Thresholds are the registered constants
    * ([[TextAnalytics.QualityMinTokens]], [[Dedup.SimhashMaxHamming]],
    * …); the semantic stage's cosine and IVF cell count are knobs, for
    * fixtures unlike the registered corpus.
    */
  def curateComplete(spark: SparkSession, dir: String,
      minCosine: Double = Similarity.SemanticMinCosine,
      nCells: Int = Similarity.IvfCells): DataFrame =
    Function.chain(completeStages(spark, dir, minCosine, nCells).map(_._2))(
      Tables.documents(spark, dir))

  /** [[curateComplete]] as its named stage list, folded over the
    * documents table: `text` (redact → quality → decontam → exact dedup,
    * [[curateDocsFullDetailed]]), `neardup` (SimHash clusters over the
    * text stage's own fingerprints + the rep-survival join), `complete`
    * (the semantic stage and the registered projection). The bench's
    * per-stage attribution (r18 verdict ask #7) times each cumulative
    * prefix: one spelling, so it can never time a different plan than
    * the registered query runs. Prefix outputs are intermediate frames
    * (wider schemas than the registered query) — they exist to be timed
    * against the noop sink, not to be consumed.
    */
  private[graft] def completeStages(spark: SparkSession, dir: String,
      minCosine: Double = Similarity.SemanticMinCosine,
      nCells: Int = Similarity.IvfCells): Seq[(String, DataFrame => DataFrame)] = Seq(
    ("text", docs => curateDocsFullDetailed(docs, TextAnalytics.QualityMinTokens,
      TextAnalytics.QualityMinRatio, Decontam.DefaultBenchModulus,
      Decontam.DefaultMinFrac, benchNgrams = None)
      .transform(Materialize(_))), // decision side + nd rep side
    ("neardup", { text =>
      val clusters = Dedup.simhashClustersFromHashes(
        text.select(col("doc_id"), col("simhash").as("sh")), Dedup.SimhashMaxHamming)
        .select(col("doc_id"), col("cluster_rep"))
      val repRepresented = text.select(col("doc_id").as("cluster_rep"),
        (col("kept") === 1 || col("drop_reason") === "duplicate")
          .as("rep_represented"))
      text.join(clusters, Seq("doc_id"), "left")
        .join(repRepresented, Seq("cluster_rep"), "left")
        .withColumn("drop_reason", coalesce(col("drop_reason"),
          when(col("cluster_rep").isNotNull &&
            col("cluster_rep") =!= col("doc_id") &&
            col("rep_represented"), "neardup")))
        .withColumn("kept", col("drop_reason").isNull.cast("int"))
        .transform(Materialize(_)) // 3 consumers below
    }),
    ("complete", { nd =>
      val sem = Similarity.semanticDedup(spark, dir, minCosine, nCells)
        .select(col("vec_id").as("doc_id"), col("keep_id"))
      // post-nd content survival: the distinct digests still kept
      val surviving = nd.filter(col("kept") === 1)
        .select("content_md5").distinct().withColumn("survives", lit(1))
      val keeperRepresented = nd.select(col("doc_id").as("keep_id"),
          col("content_md5"))
        .join(surviving, Seq("content_md5"), "left")
        .select(col("keep_id"),
          (coalesce(col("survives"), lit(0)) === 1).as("keeper_represented"))
      nd.join(sem, Seq("doc_id"), "left")
        .join(keeperRepresented, Seq("keep_id"), "left")
        .withColumn("drop_reason", coalesce(col("drop_reason"),
          when(col("keep_id").isNotNull && col("keep_id") =!= col("doc_id") &&
            col("keeper_represented"), "semantic")))
        .withColumn("kept", col("drop_reason").isNull.cast("int"))
        .select("doc_id", "lang", "n_tokens", "split", "drop_reason", "kept")
        .orderBy("doc_id")
    }))

  /** The complete-funnel rollup: every drop reason as its own column —
    * the single dashboard row-set for the whole pipeline.
    */
  def curationStatsComplete(spark: SparkSession, dir: String): DataFrame =
    curateComplete(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("drop_reason") === "quality", 1).otherwise(0)).as("n_quality_drop"),
        sum(when(col("drop_reason") === "contaminated", 1).otherwise(0)).as("n_contam_drop"),
        sum(when(col("drop_reason") === "duplicate", 1).otherwise(0)).as("n_dup_drop"),
        sum(when(col("drop_reason") === "neardup", 1).otherwise(0)).as("n_neardup_drop"),
        sum(when(col("drop_reason") === "semantic", 1).otherwise(0)).as("n_semantic_drop"),
        sum("kept").as("n_kept"))
      .orderBy("split")

  /** Curation funnel per split: docs in, drops by reason, docs out. The
    * rollup a pipeline owner actually watches — split-balanced retention.
    */
  def curationStats(spark: SparkSession, dir: String): DataFrame =
    curateDocs(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("drop_reason") === "quality", 1).otherwise(0)).as("n_quality_drop"),
        sum(when(col("drop_reason") === "duplicate", 1).otherwise(0)).as("n_dup_drop"),
        sum("kept").as("n_kept"))
      .orderBy("split")

  /** The per-doc quality verdict, content digest and split label over
    * `relation` as the CTE `q` — the head of every curation chain.
    */
  private def duckQualityCte(relation: String): String =
    s"""q AS (
       |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
       |         CASE WHEN ${TextAnalytics.duckQualityOk} THEN 1 ELSE 0 END AS quality_ok,
       |         md5(text) AS content_md5,
       |         ${TextAnalytics.duckSplitCase} AS split
       |  FROM $relation)""".stripMargin

  /** `rr(cluster_rep, rep_represented)`: whether each doc of the decision
    * CTE `d`, taken as a cluster's representative, still stands for its
    * content downstream (kept, or dropped only as an exact duplicate).
    */
  private def duckRepCte: String =
    """rr AS (SELECT doc_id AS cluster_rep,
      |              (drop_reason IS NULL OR drop_reason = 'duplicate')
      |                AS rep_represented
      |       FROM d)""".stripMargin

  /** The near-dup stage over the decision CTE `d` and a simhash
    * cluster CTE `scl`, as the CTE `nd`: a surviving doc whose cluster
    * rep is another, still-represented doc drops as 'neardup'.
    */
  private def duckNeardupCtes: String =
    s"""$duckRepCte,
      |nd AS MATERIALIZED (
      |  SELECT d.doc_id, d.lang, d.n_tokens, d.split, d.content_md5,
      |         scl.cluster_rep,
      |         coalesce(d.drop_reason,
      |           CASE WHEN scl.cluster_rep IS NOT NULL
      |                     AND scl.cluster_rep <> d.doc_id
      |                     AND rr.rep_represented THEN 'neardup' END)
      |           AS drop_reason
      |  FROM d LEFT JOIN scl USING (doc_id)
      |         LEFT JOIN rr ON rr.cluster_rep = scl.cluster_rep)""".stripMargin

  /** The funnel columns of the stats rollups: one drop count per reason,
    * then the kept count.
    */
  private def duckFunnelCols(reasons: String*): String = {
    val column = Map("contaminated" -> "contam", "duplicate" -> "dup")
    (reasons.map(r => s"CAST(sum(CASE WHEN drop_reason = '$r' THEN 1 ELSE 0 END)" +
      s" AS BIGINT) AS n_${column.getOrElse(r, r)}_drop") :+
      "CAST(sum(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept")
      .mkString(",\n       ")
  }

  private def duckCurate: String =
    s"""WITH ${duckQualityCte("documents")},
       |k AS (SELECT content_md5, min(doc_id) AS keep_id
       |      FROM q WHERE quality_ok = 1 GROUP BY 1),
       |d AS (SELECT q.*, CASE WHEN quality_ok = 0 THEN 'quality'
       |                       WHEN doc_id <> keep_id THEN 'duplicate' END AS drop_reason
       |      FROM q LEFT JOIN k USING (content_md5))""".stripMargin

  /** Full-pipeline CTE chain: redact → quality/digest → contamination
    * (reusing [[Decontam.duckContamCtes]] over the redacted relation) →
    * keeper election among clean quality survivors → decision.
    */
  private def duckCurateFull: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, ${Pii.duckRedacted("text")} AS text
       |  FROM documents),
       |${Decontam.duckContamCtes("r")},
       |cf AS (
       |  SELECT sh.doc_id,
       |         CASE WHEN ${Decontam.duckFracExpr} >= ${Decontam.DefaultMinFrac}
       |              THEN 1 ELSE 0 END AS contaminated
       |  FROM sh LEFT JOIN ov USING (doc_id)),
       |${duckQualityCte("r")},
       |qc AS (
       |  SELECT q.*, coalesce(cf.contaminated, 0) AS contaminated
       |  FROM q LEFT JOIN cf USING (doc_id)),
       |k AS (SELECT content_md5, min(doc_id) AS keep_id
       |      FROM qc WHERE quality_ok = 1 AND contaminated = 0 GROUP BY 1),
       |d AS (SELECT qc.*, CASE WHEN quality_ok = 0 THEN 'quality'
       |                        WHEN contaminated = 1 THEN 'contaminated'
       |                        WHEN doc_id <> keep_id THEN 'duplicate' END AS drop_reason
       |      FROM qc LEFT JOIN k USING (content_md5))""".stripMargin

  /** Per-(lang, source) hygiene funnel — the "which source is polluting
    * my corpus" dashboard a multi-crawl training pipeline triages with:
    * every [[curateDocsFull]] decision rolled up per provenance cell,
    * plus the kept-token mass that cell actually contributes to the
    * training mix. Reads the full chain's verdicts (the quality-gate
    * knobs pass through) and joins back the slim (doc_id, source) projection —
    * `source` deliberately does NOT ride through the chain itself:
    * threading it would widen [[curateDocsFull]]'s output schema (an
    * oracle contract) for a column only this rollup wants. Exchanges
    * carry decision rows and the two-column metadata projection; the
    * rolled-up frame is grid-sized (langs × sources).
    */
  def sourceFunnel(spark: SparkSession, dir: String,
      minTokens: Int = TextAnalytics.QualityMinTokens,
      minStopwordRatio: Double = TextAnalytics.QualityMinRatio): DataFrame =
    curateDocsFull(spark, dir, minTokens, minStopwordRatio)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("drop_reason") === "quality", 1L).otherwise(0L)).as("n_quality_drop"),
        sum(when(col("drop_reason") === "contaminated", 1L).otherwise(0L)).as("n_contam_drop"),
        sum(when(col("drop_reason") === "duplicate", 1L).otherwise(0L)).as("n_dup_drop"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept") === 1, col("n_tokens").cast("long")).otherwise(0L))
          .as("n_kept_tokens"))
      .orderBy("lang", "source")

  /** The complete-pipeline CTE chain (quality → contaminated → dup →
    * neardup over REDACTED simhash → semantic via the nested
    * q_semantic_dedup twin), ending in `fin` — shared by the complete
    * report and its stats rollup so the two cannot desynchronize.
    * The semantic stage checks post-near-dup CONTENT survival (distinct
    * kept content_md5), exactly the operator's soundness rule.
    */
  private def duckCurateCompleteCtes: String =
    s"""$duckCurateFull,
      |${Dedup.duckSimhashClusterCtes("r")},
      |$duckNeardupCtes,
      |surv AS (SELECT DISTINCT content_md5 FROM nd WHERE drop_reason IS NULL),
      |krep AS (SELECT nd.doc_id AS keep_id,
      |                (s.content_md5 IS NOT NULL) AS keeper_represented
      |         FROM nd LEFT JOIN surv s USING (content_md5)),
      |sem AS (SELECT vec_id AS doc_id, keep_id FROM (
      |${Similarity.oracles("q_semantic_dedup")}) ss),
      |fin AS (
      |  SELECT nd.doc_id, nd.lang, nd.n_tokens, nd.split,
      |         coalesce(nd.drop_reason,
      |           CASE WHEN sem.keep_id IS NOT NULL
      |                     AND sem.keep_id <> nd.doc_id
      |                     AND krep.keeper_represented THEN 'semantic' END)
      |           AS drop_reason
      |  FROM nd LEFT JOIN sem USING (doc_id)
      |          LEFT JOIN krep ON krep.keep_id = sem.keep_id)""".stripMargin

  /** Registered admission-report thresholds — chosen to DISCRIMINATE on
    * the sf corpora (each sits near its score median, measured at
    * sf0.01: nlp quartiles 5.30/5.36/5.42 M micros, weight quartiles
    * −0.79/−0.27/+0.10 M micros, token quartiles 120/208/285), so the
    * report exercises both verdicts of every stage instead of
    * rubber-stamping. Structural in the oracle. Real deployments take
    * these from the batch run's measured distributions (tercile
    * boundary, weight histogram, sequence budget).
    */
  val AdmissionMaxAvgNlpMicros = 5400000L
  val AdmissionMinWeightMicros = -500000L
  val AdmissionMaxTokens = 300L

  /** Per-document admission report — the BATCH face of the composed
    * [[graft.streaming.StreamingFeatures.admissionGateStream]]: one row
    * per doc with each stage's verdict and the conjunction, so the
    * whole six-stage composition is oracle-checkable (the streaming
    * form is spec-pinned only — a stream has no DuckDB twin). Stage
    * scores reuse the standalone operators VERBATIM — bloom
    * contamination flag, winnow df census (hits against the
    * rest-of-corpus census = n_fp − n_unique over the novelty rollup),
    * DSIR weight, order-2 perplexity, BPE token count — and the oracle
    * interpolates those operators' REGISTERED SQL twins as subqueries,
    * so the composite cannot desynchronize from its parts. Verdict
    * conventions for unscorable docs mirror the streaming gates: a doc
    * the DSIR/perplexity scorers cannot score FAILS those stages (the
    * gates drop what they cannot score), a doc with no fingerprints or
    * no tokens PASSES winnow/budget (nothing to share, nothing to
    * spend).
    *
    * Scale shape: the five stage pipelines are the standalone operators'
    * plans (each already plan-audited); the composition adds only
    * doc_id-keyed joins of their slim per-doc outputs.
    */
  def admissionReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quality = docs.select(col("doc_id"),
      TextAnalytics.qualityOk(col("text")).as("pass_quality"))
    val decontam = Decontam.bloomContamination(spark, dir)
      .select(col("doc_id"), (lit(1) - col("contaminated")).as("pass_decontam"))
    val winnow = TextAnalytics.winnowNovelty(spark, dir)
      .select(col("doc_id"), (col("n_fp") - col("n_unique")).as("census_hits"))
    val dsir = Dsir.importanceWeights(spark, dir)
      .select(col("doc_id"), col("weight_micros"))
    val ppl = Perplexity.perplexityScoresBigram(spark, dir)
      .select(col("doc_id"), col("avg_nlp_micros"))
    val bpe = Bpe.bpeTokenCounts(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val joined = quality
      .join(decontam, Seq("doc_id"), "left")
      .join(winnow, Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .join(bpe, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("pass_quality"),
        coalesce(col("pass_decontam"), lit(1)).as("pass_decontam"),
        (coalesce(col("census_hits"), lit(0L)) < TextAnalytics.WinnowMinShared)
          .cast("int").as("pass_winnow"),
        when(col("weight_micros").isNull, 0)
          .otherwise((col("weight_micros") >= AdmissionMinWeightMicros).cast("int"))
          .as("pass_dsir"),
        when(col("avg_nlp_micros").isNull, 0)
          .otherwise((col("avg_nlp_micros") <= AdmissionMaxAvgNlpMicros).cast("int"))
          .as("pass_ppl"),
        (coalesce(col("n_bpe_tokens"), lit(0L)) <= AdmissionMaxTokens)
          .cast("int").as("pass_budget"))
    joined.withColumn("admitted",
      (col("pass_quality") * col("pass_decontam") * col("pass_winnow")
        * col("pass_dsir") * col("pass_ppl") * col("pass_budget")).cast("int"))
      .orderBy("doc_id")
  }

  /** The q_admission_report oracle — the five stage subqueries ARE the
    * registered oracles of the standalone queries, interpolated
    * verbatim (each is a self-contained WITH…SELECT, legal as a DuckDB
    * derived table), joined per doc with the same absent-doc verdict
    * conventions as the operator.
    */
  private def duckAdmissionReport: String =
    s"""SELECT d.doc_id,
      |  CAST(CASE WHEN ${TextAnalytics.duckQualityOk} THEN 1 ELSE 0 END AS INT) AS pass_quality,
      |  CAST(1 - coalesce(cb.contaminated, 0) AS INT) AS pass_decontam,
      |  CAST(CASE WHEN coalesce(wn.n_fp - wn.n_unique, 0)
      |                 < ${TextAnalytics.WinnowMinShared}
      |       THEN 1 ELSE 0 END AS INT) AS pass_winnow,
      |  CAST(CASE WHEN dw.weight_micros IS NULL THEN 0
      |            WHEN dw.weight_micros >= $AdmissionMinWeightMicros
      |            THEN 1 ELSE 0 END AS INT) AS pass_dsir,
      |  CAST(CASE WHEN pb.avg_nlp_micros IS NULL THEN 0
      |            WHEN pb.avg_nlp_micros <= $AdmissionMaxAvgNlpMicros
      |            THEN 1 ELSE 0 END AS INT) AS pass_ppl,
      |  CAST(CASE WHEN coalesce(bt.n_bpe_tokens, 0) <= $AdmissionMaxTokens
      |       THEN 1 ELSE 0 END AS INT) AS pass_budget,
      |  CAST((CASE WHEN ${TextAnalytics.duckQualityOk} THEN 1 ELSE 0 END)
      |     * (1 - coalesce(cb.contaminated, 0))
      |     * (CASE WHEN coalesce(wn.n_fp - wn.n_unique, 0)
      |                  < ${TextAnalytics.WinnowMinShared}
      |        THEN 1 ELSE 0 END)
      |     * (CASE WHEN dw.weight_micros IS NULL THEN 0
      |             WHEN dw.weight_micros >= $AdmissionMinWeightMicros
      |             THEN 1 ELSE 0 END)
      |     * (CASE WHEN pb.avg_nlp_micros IS NULL THEN 0
      |             WHEN pb.avg_nlp_micros <= $AdmissionMaxAvgNlpMicros
      |             THEN 1 ELSE 0 END)
      |     * (CASE WHEN coalesce(bt.n_bpe_tokens, 0) <= $AdmissionMaxTokens
      |        THEN 1 ELSE 0 END) AS INT) AS admitted
      |FROM documents d
      |LEFT JOIN (${Decontam.oracles("q_decontam_bloom")}) cb USING (doc_id)
      |LEFT JOIN (${TextAnalytics.oracles("q_winnow_novelty")}) wn USING (doc_id)
      |LEFT JOIN (${Dsir.oracles("q_dsir_weights")}) dw USING (doc_id)
      |LEFT JOIN (${Perplexity.oracles("q_perplexity_bigram")}) pb USING (doc_id)
      |LEFT JOIN (${Bpe.oracles("q_bpe_token_counts")}) bt USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_admission_report" -> duckAdmissionReport,
    "q_curation_semantic" ->
      s"""$duckCurate,
        |sem AS (SELECT vec_id AS doc_id, keep_id FROM (
        |${Similarity.oracles("q_semantic_dedup")}) ss),
        |$duckRepCte,
        |fin AS (
        |  SELECT d.doc_id, d.lang, d.n_tokens, d.split, sem.keep_id,
        |         coalesce(d.drop_reason,
        |           CASE WHEN sem.keep_id IS NOT NULL
        |                     AND sem.keep_id <> d.doc_id
        |                     AND rr.rep_represented THEN 'semantic' END)
        |           AS drop_reason
        |  FROM d LEFT JOIN sem USING (doc_id)
        |         LEFT JOIN rr ON rr.cluster_rep = sem.keep_id)
        |SELECT doc_id, lang, n_tokens, split, keep_id, drop_reason,
        |       CAST(drop_reason IS NULL AS INT) AS kept
        |FROM fin ORDER BY doc_id""".stripMargin,
    "q_curation_neardup" ->
      s"""$duckCurate,
        |${Dedup.duckSimhashClusterCtes("documents")},
        |$duckNeardupCtes
        |SELECT doc_id, lang, n_tokens, split, cluster_rep, drop_reason,
        |       CAST(drop_reason IS NULL AS INT) AS kept
        |FROM nd ORDER BY doc_id""".stripMargin,
    "q_curation_complete" ->
      s"""$duckCurateCompleteCtes
        |SELECT doc_id, lang, n_tokens, split, drop_reason,
        |       CAST(drop_reason IS NULL AS INT) AS kept
        |FROM fin ORDER BY doc_id""".stripMargin,
    "q_curation_complete_stats" ->
      s"""$duckCurateCompleteCtes
        |SELECT split, count(*) AS n_docs,
        |       ${duckFunnelCols("quality", "contaminated", "duplicate", "neardup", "semantic")}
        |FROM fin GROUP BY split ORDER BY split""".stripMargin,
    "q_source_funnel" ->
      s"""$duckCurateFull
         |SELECT d.lang, doc.source, count(*) AS n_docs,
         |       ${duckFunnelCols("quality", "contaminated", "duplicate")},
         |       CAST(sum(CASE WHEN drop_reason IS NULL THEN n_tokens ELSE 0 END) AS BIGINT)
         |         AS n_kept_tokens
         |FROM d JOIN documents doc USING (doc_id)
         |GROUP BY d.lang, doc.source
         |ORDER BY d.lang, doc.source""".stripMargin,
    "q_curation_full" ->
      s"""$duckCurateFull
         |SELECT doc_id, lang, n_tokens, split, drop_reason,
         |       CAST(drop_reason IS NULL AS INT) AS kept
         |FROM d ORDER BY doc_id""".stripMargin,
    "q_curation_full_stats" ->
      s"""$duckCurateFull
         |SELECT split, count(*) AS n_docs,
         |       ${duckFunnelCols("quality", "contaminated", "duplicate")}
         |FROM d GROUP BY split ORDER BY split""".stripMargin,
    "q_curation" ->
      s"""$duckCurate
         |SELECT doc_id, lang, n_tokens, split, drop_reason,
         |       CAST(drop_reason IS NULL AS INT) AS kept
         |FROM d ORDER BY doc_id""".stripMargin,
    // composed oracle: the curateDocs decision chain + the winnow
    // component closure (w-prefixed CTEs, no name clash), joined by the
    // same precedence and rep-representation rule as the operator
    "q_curation_passages" ->
      s"""${duckCurate.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${TextAnalytics.duckWinnowComponentCtes},
         |$duckRepCte,
         |fin AS (
         |  SELECT d.doc_id, d.lang, d.n_tokens, d.split, wlab.cluster_rep,
         |         CASE WHEN d.drop_reason IS NOT NULL THEN d.drop_reason
         |              WHEN wlab.cluster_rep IS NOT NULL
         |                   AND wlab.cluster_rep <> d.doc_id
         |                   AND rr.rep_represented THEN 'passage_dup'
         |         END AS drop_reason
         |  FROM d
         |  LEFT JOIN wlab ON wlab.doc_id = d.doc_id
         |  LEFT JOIN rr ON rr.cluster_rep = wlab.cluster_rep)
         |SELECT doc_id, lang, n_tokens, split, cluster_rep, drop_reason,
         |       CAST(drop_reason IS NULL AS INT) AS kept
         |FROM fin ORDER BY doc_id""".stripMargin,
    "q_curation_stats" ->
      s"""$duckCurate
         |SELECT split, count(*) AS n_docs,
         |       ${duckFunnelCols("quality", "duplicate")}
         |FROM d GROUP BY split ORDER BY split""".stripMargin
  )
}
