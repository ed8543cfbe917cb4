package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Lexical retrieval over the `documents` table — BM25 query search and
  * whole-corpus TF-IDF term salience. The training-data use cases: pull
  * topical slices out of a raw corpus ("give me the docs about X"),
  * surface each document's most characteristic terms for curation audits,
  * and drive relevance-weighted sampling (public recipes: Robertson &
  * Spärck Jones BM25 as deployed in Lucene; the ln(1 + ·) idf floor is
  * Lucene's non-negative variant).
  *
  * Cross-engine determinism contract (the reason every score is a BIGINT
  * of micros, not a DOUBLE): float SUMS are order-dependent, and Spark's
  * partial aggregation order can never match DuckDB's. The one
  * transcendental (ln) is quantized to integer micros immediately —
  * `floor(ln(·)·10⁶ + 0.5)` — so everything downstream is either pure
  * IEEE arithmetic on bit-identical inputs (deterministic in any engine)
  * or INTEGER sums (exact in any order). Literals are spelled identically
  * on both sides (2.2, 1.2, 0.25, 0.75 — never computed as k1+1 or 1−b)
  * so both engines parse the same decimal to the same double. Residual
  * risk: Java `Math.log` and DuckDB `ln` differ by 1 ulp on ~0.1% of
  * inputs (measured over the idf input range); a 1-ulp slip only flips
  * the micros quantization if the true value sits within ~10⁻¹² of a
  * 0.5-boundary — with only |distinct df| ≤ |vocabulary| idf inputs in
  * play, never observed at any tested SF.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - [[bm25Search]] never shuffles the corpus. Query terms are a
  *     literal array evaluated scan-side (per-doc tf via
  *     `filter(tokens, = term)` inside whole-stage codegen); the df/idf
  *     frame is ≤ |query terms| rows (broadcast); the only exchanges
  *     carry (query_id, doc_id, score) candidates — docs containing at
  *     least one query term — with map-side combine before the final
  *     per-query top-k, which is a bounded window over candidates.
  *   - [[tfidfTopTerms]] is the classic wordcount shape: one shuffle of
  *     partially-aggregated (doc_id, term, tf), one vocabulary-sized
  *     (term, df) aggregate joined back WITHOUT a broadcast hint —
  *     vocabulary grows sublinearly but unboundedly (Heaps' law), so AQE
  *     decides — then a per-doc top-k window. tf×idf stays in integer
  *     space: tf·idf_micros is a LONG product (overflow bound documented
  *     at the call site).
  */
object Retrieval {

  /** BM25 shape parameters — standard Robertson values. Interpolated into
    * the DuckDB oracle as the SAME decimal spellings (2.2 = k1+1 and
    * 0.25 = 1−b are pre-spelled, never computed, so both engines parse
    * identical doubles).
    */
  val K1 = "1.2"
  val K1Plus1 = "2.2"
  val B = "0.75"
  val OneMinusB = "0.25"

  val DefaultTopK = 10

  /** The registered query set: multi-term queries over the corpus
    * vocabulary, plus one out-of-vocabulary term ("strategy") exercising
    * the zero-df path (a term matching no document simply produces no
    * candidate rows — it must not NULL out the query's other terms).
    */
  val Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join strategy",
    2 -> "window agg",
    3 -> "slow scan filter",
    4 -> "vector stream")

  /** Lucene-style non-negative BM25 idf, quantized to micros:
    * `floor(ln(1 + (N − df + 0.5)/(df + 0.5)) · 10⁶ + 0.5)` as LONG.
    * Quantizing HERE (not at the final score) is what makes downstream
    * sums integer-exact — see the object scaladoc.
    */
  private def idfMicros(nDocs: Column, df: Column): Column =
    floor(log(lit(1.0) + (nDocs.cast("double") - df + lit(0.5)) / (df + lit(0.5)))
      * lit(1000000L) + lit(0.5)).cast("long")

  /** BM25 tf normalization as a deterministic IEEE chain — mirrors the
    * oracle expression token for token (same literals, same association).
    */
  private def tfNorm(tf: Column, dl: Column, avgdl: Column): Column =
    tf * lit(K1Plus1.toDouble) /
      (tf + lit(K1.toDouble) *
        (lit(OneMinusB.toDouble) + lit(B.toDouble) * dl / avgdl))

  /** Per-query BM25 top-k: (query_id, rank, doc_id, score_micros).
    *
    * Stages: (1) scan-side candidate generation — for each doc, tf of
    * each DISTINCT query term via array algebra, exploded and filtered to
    * tf > 0 (docs sharing no term with any query never leave the scan);
    * (2) df per term from the candidates (map-side combine; ≤ |terms|
    * groups); (3) broadcast idf + (query, term) pairs back onto the
    * candidates; (4) integer score sum per (query, doc); (5) top-k window
    * per query with the deterministic (score desc, doc_id asc) tie-break.
    */
  def bm25Search(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = Queries,
      topK: Int = DefaultTopK): DataFrame = {
    import spark.implicits._

    val queryTerms = queries.flatMap { case (qid, q) =>
      q.split(" ").toSeq.distinct.map(t => (qid, t))
    }
    val distinctTerms = queryTerms.map(_._2).distinct.sorted

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("double").as("dl"))

    // corpus-wide stats: one tiny row, broadcast-anchored (J4 pattern).
    // avgdl = CAST(total AS DOUBLE)/n_docs — a single division, mirrored
    // exactly in the oracle.
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("total_tokens"))

    // scan-side tf per distinct query term: explode a |terms|-element
    // literal array per doc (NOT the token array) — candidates are born
    // map-side, the corpus never shuffles.
    val termStructs = array(distinctTerms.map { t =>
      struct(lit(t).as("term"),
        size(filter(col("toks"), x => x === lit(t))).cast("long").as("tf"))
    }: _*)
    // two consumers (df aggregate + scorer) read the candidates; the
    // checkpoint holds the slim (id, dl, term, tf) hits — never text or
    // token arrays — so the per-term scan loop runs once
    val cand = docs
      .select(col("doc_id"), col("dl"), explode(termStructs).as("c"))
      .select(col("doc_id"), col("dl"), col("c.term"), col("c.tf"))
      .filter(col("tf") > 0)
      .transform(Materialize(_))

    val df = cand.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = broadcast(
      df.crossJoin(broadcast(stats))
        .select(col("term"), idfMicros(col("n_docs"), col("df")).as("idf_micros"),
          (col("total_tokens").cast("double") / col("n_docs")).as("avgdl")))

    val qt = broadcast(queryTerms.toDF("query_id", "term"))

    val scored = cand
      .join(idf, "term")
      .join(qt, "term")
      .select(col("query_id"), col("doc_id"),
        // per-term score quantized to micros while still a deterministic
        // scalar chain; the (query, doc) sum below is then integer-exact
        // in any aggregation order
        floor(tfNorm(col("tf"), col("dl"), col("avgdl")) * col("idf_micros")
          + lit(0.5)).cast("long").as("s"))
      .groupBy("query_id", "doc_id").agg(sum(col("s")).as("score_micros"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_micros"))
      .orderBy("query_id", "rank")
  }

  val DefaultTopTerms = 3

  /** Per-document top-k TF-IDF terms: (doc_id, term, tf, tfidf_micros).
    * idf = ln(N/df) micros; the score tf·idf_micros is a LONG×LONG
    * product — overflow needs tf·ln(N/df) > 9.2e12, i.e. a 10⁹-token
    * document even at the ln(10¹²) ≈ 27.6 idf ceiling; real docs are
    * orders of magnitude short of it.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String,
      topK: Int = DefaultTopTerms): DataFrame = {
    // two consumers read the wordcount frame (the df aggregate and the
    // scoring join); without materialization each re-runs the corpus
    // scan + explode + partial agg (measured: zero ReusedExchange, one
    // full scan per consumer) — the Decontam/Dedup checkpoint discipline
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(Materialize(_))

    // N = total documents — a metadata-only parquet count, not a third
    // pass over the exploded tokens (and the semantically right idf N)
    val stats = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // (term, df) is vocabulary-sized: sublinear but unbounded growth
    // (Heaps' law) — no broadcast hint, AQE decides (repo rule).
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        floor(log(col("n_docs").cast("double") / col("df")) * lit(1000000L)
          + lit(0.5)).cast("long").as("idf_micros"))

    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_micros").desc, col("term").asc)
    tf.join(df, "term")
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * col("idf_micros")).as("tfidf_micros"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf_micros"))
      .orderBy(col("doc_id"), col("tfidf_micros").desc, col("term"))
  }

  /** The (query_id, term) VALUES list for the oracle, from the SAME
    * [[Queries]] constant — operator and oracle cannot desynchronize.
    * Terms are SQL-escaped ('' doubling) when interpolated: the Spark
    * operator handles apostrophes in query terms natively, and the
    * oracle string must not silently break (or change meaning) if a
    * registered query ever carries one.
    */
  private def sqlLit(t: String): String = s"'${t.replace("'", "''")}'"

  private def duckQueryValues: String =
    Queries.flatMap { case (qid, q) =>
      q.split(" ").toSeq.distinct.map(t => s"($qid, ${sqlLit(t)})")
    }.mkString(", ")

  private def duckTermList: String =
    Queries.flatMap(_._2.split(" ")).distinct.sorted
      .map(sqlLit).mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "q_bm25_search" ->
      s"""WITH q(query_id, term) AS (VALUES $duckQueryValues),
         |d AS (SELECT doc_id, string_split(text, ' ') AS toks,
         |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
         |      FROM documents),
         |stats AS (SELECT count(*) AS n_docs,
         |                 sum(CAST(dl AS BIGINT)) AS total_tokens FROM d),
         |cand AS (
         |  SELECT doc_id, dl, term,
         |         CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
         |  FROM d, (SELECT unnest($duckTermList) AS term)
         |  WHERE len(list_filter(toks, x -> x = term)) > 0),
         |idf AS (
         |  SELECT term,
         |         CAST(floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5)
         |                            / (df + 0.5)) * 1000000 + 0.5) AS BIGINT)
         |           AS idf_micros,
         |         CAST(total_tokens AS DOUBLE) / n_docs AS avgdl
         |  FROM (SELECT term, count(*) AS df FROM cand GROUP BY term), stats),
         |scored AS (
         |  SELECT q.query_id, c.doc_id,
         |         CAST(floor(tf * $K1Plus1 /
         |                     (tf + $K1 * ($OneMinusB + $B * dl / avgdl))
         |                    * idf_micros + 0.5) AS BIGINT) AS s
         |  FROM cand c JOIN idf USING (term) JOIN q USING (term)),
         |agg AS (SELECT query_id, doc_id,
         |               CAST(sum(s) AS BIGINT) AS score_micros
         |        FROM scored GROUP BY 1, 2),
         |ranked AS (SELECT *, CAST(row_number() OVER (
         |             PARTITION BY query_id
         |             ORDER BY score_micros DESC, doc_id) AS INT) AS rank
         |           FROM agg)
         |SELECT query_id, rank, doc_id, score_micros
         |FROM ranked WHERE rank <= $DefaultTopK
         |ORDER BY query_id, rank""".stripMargin,
    "q_tfidf_top_terms" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term),
         |stats AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (
         |  SELECT term,
         |         CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
         |              AS BIGINT) AS idf_micros
         |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats),
         |scored AS (
         |  SELECT doc_id, term, tf, tf * idf_micros AS tfidf_micros
         |  FROM tf JOIN idf USING (term)),
         |ranked AS (SELECT *, row_number() OVER (
         |             PARTITION BY doc_id
         |             ORDER BY tfidf_micros DESC, term) AS rk
         |           FROM scored)
         |SELECT doc_id, term, tf, tfidf_micros
         |FROM ranked WHERE rk <= $DefaultTopTerms
         |ORDER BY doc_id, tfidf_micros DESC, term""".stripMargin
  )
}
