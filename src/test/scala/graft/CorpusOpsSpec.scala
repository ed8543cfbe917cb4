package graft

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Fixture specs for the round-6 corpus operators (Retrieval, CorpusStats,
  * Sharding, Dsir) — the behaviors the sf oracle gate can't isolate:
  * BM25 saturation/tie-break corners against an independent Scala model,
  * the interleave decomposition against the naive single-window rank,
  * epoch-permutation invariants, and DSIR's direction (target-like up,
  * off-distribution down) with model-exact weights.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def writeDocs(prefix: String,
      rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = Files.createTempDirectory(prefix).toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("collocations score hand-checked fixture; short docs contribute no bigrams") {
    // "a b a b": uni a:2 b:2, N=4+1 (doc "x" adds one token) = 5;
    // bigrams (a,b):2, (b,a):1. Scores: (a,b) 4·5/4 = 5.0, (b,a) 1·5/4
    // = 1.25. The 1-token doc "x" adds no bigram but DOES count in N —
    // both engines must agree on that convention (spec pins Spark; the
    // sf oracle pins DuckDB).
    val dir = writeDocs("colloc", Seq(
      (0L, "a b a b", "en", "s", 7L),
      (1L, "x", "en", "s", 1L)))
    val out = TextAnalytics.collocations(spark, dir, topK = 10, minCount = 1)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(("a", "b", 2L, 5.0), ("b", "a", 1L, 1.25)), out.toString)
    // registered defaults on the sf corpus: bounded rows, scores
    // non-increasing, every pair at or above the count floor
    val reg = TextAnalytics.collocations(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(reg.length <= TextAnalytics.CollocTopK)
    assert(reg.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(reg.forall(_._3 >= TextAnalytics.CollocMinCount))
  }

  test("source vocab overlap: exact Jaccard, zero-overlap pairs present, dup tokens collapse") {
    val dir = writeDocs("vocover", Seq(
      (0L, "alpha beta gamma", "en", "s1", 1L),
      (1L, "alpha alpha beta", "en", "s1", 1L),   // dups collapse: s1 vocab = {alpha,beta,gamma}
      (2L, "beta gamma delta", "en", "s2", 1L),   // s2 = {beta,gamma,delta}; ∩s1 = 2, ∪ = 4
      (3L, "omega psi", "en", "s3", 1L)))          // s3 disjoint from both
    val out = CorpusStats.sourceVocabOverlap(spark, dir)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("s1", "s2", 2L, 3L, 3L, 0.5),
      ("s1", "s3", 0L, 3L, 2L, 0.0),
      ("s2", "s3", 0L, 3L, 2L, 0.0)), out.toString)
  }

  // ---------------------------------------------------------- Retrieval

  /** Independent in-memory BM25 model (plain Scala, same micros
    * quantization): the operator must reproduce it exactly — including
    * tf saturation, the out-of-vocab query term contributing nothing,
    * docs sharing no term being absent, and the (score desc, doc_id asc)
    * tie-break.
    */
  test("bm25 equals an independent in-memory model on a crafted fixture") {
    val texts = Seq(
      0L -> "hash hash hash hash join",  // saturated tf
      1L -> "hash join",                 // short doc, both terms
      2L -> "join join sort",            // one term twice
      3L -> "sort merge only",           // no query term: absent
      4L -> "hash join",                 // identical to 1: tie-break on id
      5L -> "filter hash")
    val dir = writeDocs("bm25",
      texts.map { case (id, t) => (id, t, "en", "s", 1L) })
    val queries = Seq(1 -> "hash join warp") // "warp": out-of-vocab

    val got = Retrieval.bm25Search(spark, dir, queries, topK = 10)
      .as[(Int, Int, Long, Long)].collect().toSeq

    // model: same formula, same quantization, java Math.log
    val toks = texts.toMap.view.mapValues(_.split(" ").toSeq).toMap
    val n = texts.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / texts.size
    def idfMicros(term: String): Long = {
      val df = toks.values.count(_.contains(term)).toDouble
      math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1000000L + 0.5).toLong
    }
    val scores = for {
      (id, ts) <- toks.toSeq
      score = Seq("hash", "join", "warp").map { term =>
        val tf = ts.count(_ == term).toDouble
        if (tf == 0) 0L
        else math.floor(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ts.size / avgdl))
          * idfMicros(term) + 0.5).toLong
      }.sum
      if score > 0
    } yield (id, score)
    val expected = scores.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (1, i + 1, id, s) }

    assert(got.sortBy(_._2) == expected)
    // doc 3 shares no term: absent; docs 1 and 4 are twins: adjacent
    // ranks in id order
    assert(!got.exists(_._3 == 3L))
    val twins = got.filter(r => r._3 == 1L || r._3 == 4L).sortBy(_._2)
    assert(twins.map(_._3) == Seq(1L, 4L) &&
      twins(0)._4 == twins(1)._4)
  }

  test("tfidf: corpus-wide term scores zero, rare term dominates, ties break on term") {
    val dir = writeDocs("tfidf", Seq(
      (0L, "common rare common zeta", "en", "s", 1L),
      (1L, "common alpha alpha", "en", "s", 1L),
      (2L, "common beta", "en", "s", 1L)))
    val got = Retrieval.tfidfTopTerms(spark, dir, topK = 4)
      .as[(Long, String, Long, Long)].collect().toSeq

    // "common" appears in every doc: idf = ln(1) = 0 -> tfidf 0 exactly
    assert(got.filter(_._2 == "common").forall(_._4 == 0L))
    // doc 0: both "rare" and "zeta" have df=1, tf=1 -> equal scores;
    // tie breaks on term asc, and both outrank the common term
    val d0 = got.filter(_._1 == 0L).sortBy(r => (-r._4, r._2)).map(_._2)
    assert(d0 == Seq("rare", "zeta", "common"))
    // doc 1: "alpha" tf=2 df=1 is the max score in the whole fixture
    val top = got.maxBy(_._4)
    assert(top._1 == 1L && top._2 == "alpha" && top._3 == 2L)
  }

  // ---------------------------------------------------------- Sharding

  test("shard interleave equals the naive single-window rank on the sf corpus") {
    val naive = Sharding.shardDocs(spark, sf)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(col("order_key").asc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "shard", "pos")
    val dist = Sharding.shardInterleave(spark, sf)
    assert(dist.exceptAll(naive).isEmpty && naive.exceptAll(dist).isEmpty,
      "distributed interleave diverged from the naive window definition")
  }

  test("epoch re-shuffles within shards without moving docs across shards") {
    val e0 = Sharding.shardDocs(spark, sf, epoch = 0L)
      .select("doc_id", "shard", "order_key")
    val e1 = Sharding.shardDocs(spark, sf, epoch = 1L)
      .select(col("doc_id"), col("shard").as("shard1"), col("order_key").as("ok1"))
    val joined = e0.join(e1, "doc_id").cache()
    try {
      assert(joined.filter(col("shard") =!= col("shard1")).count() == 0,
        "epoch must not move docs between shards")
      val moved = joined.filter(col("order_key") =!= col("ok1")).count()
      val total = joined.count()
      assert(moved > total / 2, s"epoch 1 left $moved/$total keys unchanged")
    } finally joined.unpersist()
  }

  test("positions within each shard are a 1..count bijection") {
    val pos = Sharding.shardInterleave(spark, sf)
    val bad = pos.groupBy("shard")
      .agg(count(lit(1)).as("n"), countDistinct(col("pos")).as("d"),
        min(col("pos")).as("lo"), max(col("pos")).as("hi"))
      .filter(col("n") =!= col("d") || col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  // -------------------------------------------------------------- DSIR

  /** Two sub-languages; the target modulus picks docs that are all
    * "signal"-flavored. A held-out signal doc must outscore a noise doc,
    * and the weights must equal an independent Scala model of the same
    * hash + smoothing + quantization.
    */
  test("dsir: target-like docs score above off-distribution docs, model-exact") {
    val nB = 16
    val mod = 2
    // even ids (the target) speak signal; odd ids speak noise — except
    // doc 9, a held-out signal speaker the weights must rank near the top
    val texts = Seq(
      0L -> "signal alpha signal beta",
      1L -> "noise gamma noise delta",
      2L -> "signal beta signal alpha",
      3L -> "noise delta noise gamma",
      4L -> "signal alpha beta signal",
      5L -> "noise gamma delta noise",
      6L -> "signal signal alpha beta",
      7L -> "noise noise gamma delta",
      8L -> "signal beta alpha signal",
      9L -> "signal alpha signal beta")
    val dir = writeDocs("dsir", texts.map { case (id, t) => (id, t, "en", "s", 1L) })
    val got = Dsir.importanceWeights(spark, dir, nBuckets = nB, targetModulus = mod)
      .select("doc_id", "weight_micros").as[(Long, Long)].collect().toMap

    // independent model
    def bucket(tok: String): Int = {
      val h = tok.foldLeft(0L)((h, c) => (h * 31 + (c.toInt % 256)) % 2147483648L)
      ((h * Dsir.BucketMultiplier) % nB).toInt
    }
    val all = texts.flatMap { case (id, t) => t.split(" ").map(id -> bucket(_)) }
    val nR = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nT = all.filter(_._1 % mod == 0).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (tt, tr) = (nT.values.sum, nR.values.sum)
    def lrMicros(b: Int): Long =
      math.floor(math.log(((nT.getOrElse(b, 0L) + 0.5) / (tt + nB / 2.0))
        / ((nR(b) + 0.5) / (tr + nB / 2.0))) * 1000000L + 0.5).toLong
    val expected = texts.map { case (id, t) =>
      id -> t.split(" ").map(tok => lrMicros(bucket(tok))).sum
    }.toMap
    assert(got == expected)

    // direction: the held-out signal doc beats every noise doc
    val noise = texts.filter(_._2.startsWith("noise")).map(_._1)
    assert(noise.forall(id => got(9L) > got(id)),
      s"held-out signal doc should outscore noise: ${got.toSeq.sorted}")
  }

  /** Gumbel-top-k resample: the selected set must equal an independent
    * Scala model (same fold, same Gumbel quantile, same micro floor,
    * same (key desc, doc_id) tie-break), seeds must decorrelate, and
    * the weight term must matter (a k = corpus draw is everything).
    */
  test("dsir sample: model-exact gumbel top-k, seed changes the draw") {
    val texts = Seq(
      0L -> "signal alpha signal beta",
      1L -> "noise gamma noise delta",
      2L -> "signal beta signal alpha",
      3L -> "noise delta noise gamma",
      4L -> "signal alpha beta signal",
      5L -> "noise gamma delta noise",
      6L -> "signal signal alpha beta",
      7L -> "noise noise gamma delta",
      8L -> "signal beta alpha signal",
      9L -> "signal alpha signal beta")
    val dir = writeDocs("dsirs", texts.map { case (id, t) => (id, t, "en", "s", 1L) })
    val weights = Dsir.importanceWeights(spark, dir, nBuckets = 16, targetModulus = 2)
      .select("doc_id", "weight_micros").as[(Long, Long)].collect().toMap

    def draw(seed: Long, k: Int): Seq[Long] =
      Dsir.dsirSample(spark, dir, k = k, nBuckets = 16, targetModulus = 2,
        seed = seed).select("doc_id").as[Long].collect().toSeq

    // independent model of the key
    def keyOf(id: Long, seed: Long): Long = {
      val h = (((id % 2147483648L + 2147483648L) % 2147483648L + seed)
        % 2147483648L * Dsir.GumbelMultiplier) % 2147483648L
      val u = (h + 0.5) / 2147483648.0
      weights(id) + math.floor(-math.log(-math.log(u)) * 1000000L + 0.5).toLong
    }
    for (seed <- Seq(0L, 7L)) {
      val expected = texts.map(_._1)
        .sortBy(id => (-keyOf(id, seed), id)).take(4)
      assert(draw(seed, 4) == expected, s"seed $seed")
    }
    // a full-corpus draw is the whole corpus
    assert(draw(0L, 10).toSet == texts.map(_._1).toSet)
  }

  // --------------------------------------------------------------- BPE

  /** The learned merges must equal an independent in-memory BPE
    * (identical argmax tie-break and greedy leftmost merge
    * application), and the per-doc token counts must be the type-join
    * of word occurrences to final symbol counts. The fixture is the
    * classic subword shape (low/lower/newest/widest — shared stems and
    * suffixes) plus a null-text doc for the zero-count rule.
    */
  test("bpe: merges match a reference model, token counts are the type join") {
    val dir = writeDocs("bpe", Seq(
      (0L, "low low low low low", "en", "s", 1L),
      (1L, "lower lower", "en", "s", 1L),
      (2L, "newest newest newest newest newest newest", "en", "s", 1L),
      (3L, "widest widest widest", "en", "s", 1L),
      (4L, null, "en", "s", 0L)))
    val n = 6

    // independent reference BPE over the word-frequency table
    val wc = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    var voc: Map[List[String], Long] =
      wc.map { case (w, c) => w.split("").toList -> c }
    val expMerges = (1 to n).map { _ =>
      val pairs = voc.toSeq.flatMap { case (syms, c) =>
        syms.sliding(2).collect { case List(a, b) => (a, b) -> c }.toSeq
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((a, b), cnt) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      def apply1(s: List[String]): List[String] = s match {
        case x :: y :: rest if x == a && y == b => (a + b) :: apply1(rest)
        case x :: rest => x :: apply1(rest)
        case Nil => Nil
      }
      voc = voc.map { case (syms, c) => apply1(syms) -> c }
      (a, b, cnt)
    }
    val got = Bpe.learnMerges(spark, dir, nMerges = n)
      .as[(Int, String, String, String, Long)].collect()
    assert(got.length == n)
    got.zipWithIndex.foreach { case ((rank, a, b, m, cnt), i) =>
      val (ea, eb, ec) = expMerges(i)
      assert(rank == i + 1 && a == ea && b == eb && m == ea + eb && cnt == ec,
        s"round ${i + 1}: got ($a,$b,$cnt) expected ($ea,$eb,$ec)")
    }

    // vocab: per-symbol occurrence counts of the final segmentation
    val expVocab = voc.toSeq.flatMap { case (syms, c) => syms.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val gotVocab = Bpe.bpeVocab(spark, dir, nMerges = n)
      .as[(String, Long)].collect().toMap
    assert(gotVocab == expVocab)

    // token counts: words × final symbol count per type; null text → 0
    val symLen = voc.map { case (syms, c) => syms.mkString -> syms.length }
    val expCounts = Map(
      0L -> (5L, 5L * symLen("low")),
      1L -> (2L, 2L * symLen("lower")),
      2L -> (6L, 6L * symLen("newest")),
      3L -> (3L, 3L * symLen("widest")),
      4L -> (0L, 0L))
    val gotCounts = Bpe.bpeTokenCounts(spark, dir, nMerges = n)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(gotCounts == expCounts.map { case (k, (w, s)) => k -> ((w, s)) })

    // compression: one source, chars/words/bpe-tokens from the model;
    // the null-text doc contributes nothing
    val totChars = wc.map { case (w, c) => w.length * c }.sum
    val totWords = wc.values.sum
    val totBpe = wc.map { case (w, c) => symLen(w) * c }.sum
    val comp = Bpe.bpeCompression(spark, dir, nMerges = n)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(comp.length == 1)
    val (src, nc, nw, nb, cpt) = comp(0)
    assert(src == "s" && nc == totChars && nw == totWords && nb == totBpe)
    assert(cpt == math.floor(totChars.toDouble / totBpe * 10000 + 0.5) / 10000)
  }

  /** The batched-merge acceptance rule in isolation: every branch of
    * the byte-identity proof gets a row — disjoint prefix accepted,
    * conflict stop + equal-count truncation, merged-symbol name
    * collision, all-tied fallback to sequential, truncated-fetch tie
    * boundary. (The reference-model test above exercises the batched
    * learner end-to-end: its expected merges ARE sequential BPE.)
    */
  test("bpe acceptBatch: disjoint prefix, conflict stop, tie guards, N=1 fallback") {
    def ab(rows: Seq[(String, String, Long)], trunc: Boolean = false) =
      Bpe.acceptBatch(rows, trunc)
    // strictly decreasing disjoint pairs: all accepted
    assert(ab(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)))
      == Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)))
    // conflict at n=9 stops the batch AND evicts the equal-count accept
    // ((c,d) at 9 could be tied by a pair (b,e) spawns — e.g. (ab, e))
    assert(ab(Seq(("a", "b", 10L), ("c", "d", 9L), ("b", "e", 9L), ("f", "g", 8L)))
      == Seq(("a", "b", 10L)))
    // equal-count DISJOINT pairs in a complete list are safe together
    assert(ab(Seq(("a", "b", 10L), ("c", "d", 10L)))
      == Seq(("a", "b", 10L), ("c", "d", 10L)))
    // a later pair naming the merged symbol is a conflict
    assert(ab(Seq(("a", "b", 10L), ("ab", "c", 9L), ("x", "y", 9L)))
      == Seq(("a", "b", 10L)))
    // all-tied conflicting head: fall back to the sequential single merge
    assert(ab(Seq(("a", "b", 5L), ("b", "c", 5L))) == Seq(("a", "b", 5L)))
    // truncated fetch: the last row's count bounds unseen ties
    assert(ab(Seq(("a", "b", 10L), ("c", "d", 9L)), trunc = true)
      == Seq(("a", "b", 10L)))
  }

  /** The sampled (driver-census) learner must be byte-identical to the
    * exact learner whenever the census covers the whole type frame —
    * the cross-check the registered q_bpe_merges_sampled query runs
    * against the SEQUENTIAL oracle every round.
    */
  test("bpe sampled learner equals the exact learner on a total census") {
    val dir = writeDocs("bpe_sampled", Seq(
      (0L, "low low low low low", "en", "s", 1L),
      (1L, "lower lower", "en", "s", 1L),
      (2L, "newest newest newest newest newest newest", "en", "s", 1L),
      (3L, "widest widest widest", "en", "s", 1L),
      (4L, null, "en", "s", 0L)))
    val exact = Bpe.learnMerges(spark, dir, nMerges = 6)
      .collect().map(_.toSeq).toSeq
    val sampled = Bpe.learnMergesSampled(spark, dir, nMerges = 6)
      .collect().map(_.toSeq).toSeq
    assert(sampled == exact)
    // a head-truncated census still learns the requested merge count
    val few = Bpe.learnMergesSampled(spark, dir, nMerges = 2, sampleTypes = 2)
    assert(few.count() == 2)
  }

  test("bpe learning releases each superseded round's vocabulary") {
    // every merge round checkpoints a fresh vocabulary eagerly; the
    // round it replaces is dead and must be freed then, not left to GC
    // (Dataset.unpersist frees nothing of a checkpoint)
    Materialize.scoped {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val vocab = Bpe.bpeVocab(spark, sf, nMerges = 64).collect()
      assert(vocab.nonEmpty)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.size <= 1,
        s"BPE left ${added.size} persisted RDDs behind (want <= 1, the returned vocabulary): $added")
    }
  }

  /** External-target form: the same fixture scored against an explicit
    * reference frame (not the modulus), including a target token the
    * corpus never uses (its bucket mass must only shift the smoothing
    * totals, not crash the join).
    */
  test("dsir external target frame: same direction, out-of-corpus target token tolerated") {
    import spark.implicits._
    val dir = writeDocs("dsirx", Seq(
      (0L, "signal alpha signal beta", "en", "s", 1L),
      (1L, "noise gamma noise delta", "en", "s", 1L),
      (2L, "signal beta noise alpha", "en", "s", 1L)))
    val target = Seq((100L, "signal alpha signal exotic")).toDF("doc_id", "text")
    val got = Dsir.importanceWeightsAgainst(spark, dir, target, nBuckets = 16)
      .select("doc_id", "weight_micros").as[(Long, Long)].collect().toMap
    assert(got.size == 3)
    assert(got(0L) > got(2L) && got(2L) > got(1L),
      s"ordering should follow signal density: $got")
  }

  /** Reference-LM perplexity: docs speaking the reference sub-language
    * must land in 'head', off-distribution docs in 'tail', and every
    * lang must see all of its docs labeled.
    */
  test("perplexity buckets: reference-like docs head, alien docs tail") {
    // modulus 2 -> even ids are the reference; they all speak "signal"
    val texts = Seq(
      0L -> "signal alpha signal beta",
      1L -> "signal alpha beta signal",     // held-out signal speaker
      2L -> "signal beta alpha signal",
      3L -> "noise gamma delta noise",      // alien vocabulary
      4L -> "signal alpha signal beta",
      5L -> "signal beta signal alpha",     // reference-like
      6L -> "signal signal alpha beta",
      7L -> "noise delta gamma noise")      // alien vocabulary
    val dir = writeDocs("ppl", texts.map { case (id, t) => (id, t, "en", "s", 1L) })
    val got = Perplexity.perplexityBuckets(spark, dir,
        nBuckets = 16, refModulus = 2)
      .select("doc_id", "ppl_bucket").as[(Long, String)].collect().toMap
    assert(got.size == 8)
    // the two alien docs carry the highest avg nlp: both must be 'tail'
    assert(got(3L) == "tail" && got(7L) == "tail",
      s"alien docs must land in tail: $got")
    // signal speakers (reference or held-out) never land in tail
    assert(Seq(0L, 1L, 2L, 4L, 5L, 6L).forall(got(_) != "tail"), got.toString)
    // the sketch-threshold twin preserves the semantic labeling
    val gotA = Perplexity.perplexityBucketsApprox(spark, dir,
        nBuckets = 16, refModulus = 2)
      .select("doc_id", "ppl_bucket").as[(Long, String)].collect().toMap
    assert(gotA(3L) == "tail" && gotA(7L) == "tail", gotA.toString)
    assert(Seq(0L, 1L, 2L, 4L, 5L, 6L).forall(gotA(_) != "tail"), gotA.toString)
  }

  /** Cross-document vs within-document distinction: a doc that repeats
    * its OWN 10-gram must score zero (that is the repetition signal,
    * not boilerplate), while a 10-token span shared across two docs at
    * DIFFERENT offsets is caught in both — the unaligned case fixed
    * passage windows cannot see.
    */
  test("dup-ngram coverage counts cross-doc grams at any offset, never within-doc repeats") {
    val t = (1 to 10).map(i => s"t$i").mkString(" ")   // the shared span
    val x = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, s"a $x $x"),          // within-doc repeats only → 0 dup
      (1L, s"b1 b2 b3 $t"),      // shared span at offset 3
      (2L, s"$t c1"),            // shared span at offset 0
      (3L, "too short"),         // < n tokens → 0 grams, NULL frac
      (4L, null))                // NULL text → total-function row
    val dir = writeDocs("dupngram",
      docs.map { case (id, tx) => (id, tx, "en", "s", 1L) })
    val got = Dedup.dupNgramCoverage(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(got(0L)._1 == 12 && got(0L)._2 == 0L,
      s"within-doc repeats must not count as duplicated: $got")
    assert(got(1L) == ((4L, 1L, Some(0.25))), got.toString)
    assert(got(2L) == ((2L, 1L, Some(0.5))), got.toString)
    assert(got(3L) == ((0L, 0L, None)), got.toString)
    assert(got(4L) == ((0L, 0L, None)), got.toString)
  }

  /** Recall tracker sanity: exact duplicates are found by BOTH sketch
    * paths (identical signatures/fingerprints always collide → recall
    * 1.0); an all-distinct corpus has EMPTY truth and must report
    * vacuous full recall, not divide 0/0.
    */
  test("neardup recall: exact-dup fixture scores 1.0 on both paths; empty truth is vacuous") {
    val dup = "p q r s t u v w x y z"
    val dir = writeDocs("ndrecall", Seq(
      (0L, dup, "en", "s", 1L),
      (1L, dup, "en", "s", 1L),       // exact twin → the one truth pair
      (2L, "totally different words here now today", "en", "s", 1L)))
    val got = Dedup.neardupRecall(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("minhash_lsh" -> 1000000L, "simhash" -> 1000000L), got.toString)

    val dir2 = writeDocs("ndrecall2", Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "s", 1L),
      (1L, "one two three four five six", "en", "s", 1L)))
    val empty = Dedup.neardupRecall(spark, dir2)
      .as[(String, Long)].collect().toMap
    assert(empty == Map("minhash_lsh" -> 1000000L, "simhash" -> 1000000L),
      s"empty truth must be vacuous full recall: $empty")
  }

  /** Bucket-star components: identical docs share every band bucket and
    * must land in one cluster under the minimum id; docs outside the
    * shingled domain (short / NULL text) and bucket-sharing-nothing
    * docs stay singletons — the empty shingle set must never fabricate
    * a cluster. Output must be a valid partition labeling (every rep
    * labels itself).
    */
  test("minhash components: exact twins cluster under min id, short/null/unrelated stay singletons") {
    val dup = "p q r s t u v w x y z"
    val dir = writeDocs("mhcomp", Seq(
      (7L, dup, "en", "s", 1L),
      (3L, "totally different words appear here today", "en", "s", 1L),
      (0L, dup, "en", "s", 1L),
      (4L, "ab", "en", "s", 1L),
      (5L, null, "en", "s", 1L)))
    val got = Dedup.minhashComponents(spark, dir)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(0L, 3L, 4L, 5L, 7L), got.toString)
    assert(got(0L) == ((0L, 1)) && got(7L) == ((0L, 0)),
      s"identical docs must share the min-id cluster: $got")
    assert(Seq(3L, 4L, 5L).forall(id => got(id) == ((id, 1))),
      s"unrelated/short/null docs must be singleton reps: $got")
    got.foreach { case (_, (rep, _)) =>
      assert(got(rep)._1 == rep, s"rep $rep must label itself: $got")
    }
    // all-distinct corpus → EMPTY edge frame: the CC loop must converge
    // on nothing and every doc stays its own rep
    val dir2 = writeDocs("mhcomp2", Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "s", 1L),
      (1L, "one two three four five six", "en", "s", 1L)))
    val solo = Dedup.minhashComponents(spark, dir2)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(solo == Map(0L -> ((0L, 1)), 1L -> ((1L, 1))), solo.toString)
  }

  /** Quality-aware canonical election: within a near-dup component the
    * survivor is the best (quality_ok, n_tokens) member — NOT the
    * minimum id — with doc_id as the final tie-break; singletons and
    * null-text docs keep themselves.
    */
  test("keep-best dedup elects the highest-quality member, not the minimum id") {
    // w1..w40 all-distinct non-stopword tokens → quality_ok 0 (no
    // stopword hits); the near-dup shares the first 30 tokens and
    // appends four stopwords → quality_ok 1 with FEWER tokens, so the
    // election must pick quality over length over id
    val low = (1 to 40).map(i => s"w$i").mkString(" ")
    val high = (1 to 30).map(i => s"w$i").mkString(" ") + " the of and to"
    val dup = "p q r s t u v w x y z the of"
    val dir = writeDocs("keepbest", Seq(
      (0L, low, "en", "s", 1L),
      (2L, high, "en", "s", 1L),
      (5L, dup, "en", "s", 1L),      // exact twins: same quality and
      (9L, dup, "en", "s", 1L),      // n_tokens → min id 5 must win
      (6L, "standalone words with no neighbours around", "en", "s", 1L),
      (7L, null, "en", "s", 1L)))
    val got = Dedup.keepBestDedup(spark, dir)
      .as[(Long, Long, Int, Option[Int], Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(0L, 2L, 5L, 6L, 7L, 9L), got.toString)
    // the low/high pair must actually cluster (seeded hashing is
    // deterministic, so this is a stable fixture property)
    assert(got(0L)._2 == got(2L)._2, s"fixture must cluster 0 with 2: $got")
    assert(got(0L)._5 == 2L && got(2L)._5 == 2L,
      s"quality_ok=1 member must win the election despite larger id and fewer tokens: $got")
    assert(got(2L)._6 == 1 && got(0L)._6 == 0, got.toString)
    // exact twins tie on (quality, n_tokens) → min id keeps
    assert(got(5L)._2 == got(9L)._2 && got(5L)._5 == 5L, got.toString)
    assert(got(5L)._6 == 1 && got(9L)._6 == 0, got.toString)
    // singleton and null-text docs are their own kept rep
    assert(got(6L)._6 == 1 && got(7L)._6 == 1, got.toString)
    assert(got(7L)._3 == 0 && got(7L)._4.isEmpty,
      s"null text must carry quality 0 and NULL n_tokens: $got")

    // sf-corpus properties: exactly one keeper per component, the
    // elected member IS the (quality_ok, n_tokens, -id) maximum, and
    // the per-source stats roll the same flags up
    val reg = Dedup.keepBestDedup(spark, sf)
      .as[(Long, Long, Int, Option[Int], Long, Int)].collect()
    reg.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.count(_._6 == 1) == 1,
        s"component $rep must keep exactly one member")
      val want = members.maxBy(m => (m._3, m._4.getOrElse(-1), -m._1))._1
      assert(members.forall(_._5 == want),
        s"component $rep best_doc must be the election maximum")
    }
    val stats = Dedup.keepBestStats(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    assert(stats.map(_._2).sum == reg.length &&
      stats.map(_._3).sum == reg.count(_._6 == 1),
      "per-source stats must roll up the keep flags exactly")
  }

  /** The Gopher rule-set filter: each rule fails in isolation on a
    * crafted doc, the passer passes, and every metric is the exact
    * hand-computed value; on the sf corpus the verdict must equal its
    * recomputation from the reported metric columns.
    */
  test("gopher rules: per-rule attribution columns and composite verdict") {
    def toks(n: Int, word: String = "word") =
      (1 to n).map(i => s"$word$i").mkString(" ")
    val dir = writeDocs("gopher", Seq(
      // 58 alpha tokens + 'the a' → 60 tokens, all rules pass
      (0L, toks(58) + " the a", "en", "s", 1L),
      // 10 tokens < 50 → word-count rule fails (others pass)
      (1L, toks(8) + " the a", "en", "s", 1L),
      // only one distinct stopword → required-stopword rule fails
      (2L, toks(59) + " the", "en", "s", 1L),
      // 58×12-char tokens: mean length 11.4667 > 10 → rule 2 fails
      (3L, (1 to 58).map(i => f"longword$i%04d").mkString(" ") + " the a",
        "en", "s", 1L),
      // ten '#' tokens of sixty → symbol ratio 0.1667 > 0.1; alpha
      // 50/60 = 0.8333 still passes
      (4L, toks(48) + " the a " + Seq.fill(10)("#").mkString(" "),
        "en", "s", 1L),
      // fifteen digit tokens → alpha 45/60 = 0.75 < 0.8 fails; digits
      // are not symbols so rule 3 passes
      (5L, toks(43) + " the a " + (1 to 15).map(i => s"$i$i$i").mkString(" "),
        "en", "s", 1L),
      // eight '...' tokens of sixty → ellipsis ratio 0.1333 > 0.1
      (6L, toks(50) + " the a " + Seq.fill(8)("...").mkString(" "),
        "en", "s", 1L),
      (7L, null, "en", "s", 1L)))
    val out = TextAnalytics.gopherRules(spark, dir)
      .as[(Long, Option[Int], Option[Double], Option[Double], Option[Double],
        Option[Int], Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._7 == 1, out(0L).toString)
    assert(out(0L)._2.contains(60) && out(0L)._6.contains(2), out(0L).toString)
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).forall(out(_)._7 == 0), out.toString)
    assert(out(4L)._4.contains(0.1667) && out(4L)._5.contains(0.8333),
      s"symbol/alpha metrics must be the exact rounded values: ${out(4L)}")
    assert(out(5L)._5.contains(0.75) && out(5L)._4.contains(0.0), out(5L).toString)
    assert(out(6L)._4.contains(0.1333), out(6L).toString)
    assert(out(3L)._3.exists(_ > 10.0), out(3L).toString)
    assert(out(7L)._2.isEmpty && out(7L)._6.isEmpty, out(7L).toString)

    // sf corpus: verdict ≡ its recomputation from the reported columns,
    // and both verdict classes occur (the rule set discriminates)
    val reg = TextAnalytics.gopherRules(spark, sf)
      .as[(Long, Option[Int], Option[Double], Option[Double], Option[Double],
        Option[Int], Int)].collect()
    reg.foreach { r =>
      val want = (for {
        nt <- r._2; ml <- r._3; sy <- r._4; al <- r._5; sh <- r._6
      } yield nt >= TextAnalytics.GopherMinTokens &&
        nt <= TextAnalytics.GopherMaxTokens &&
        ml >= 3.0 && ml <= 10.0 && sy <= 0.1 && al >= 0.8 &&
        sh >= TextAnalytics.GopherRequiredHits).getOrElse(false)
      assert(r._7 == (if (want) 1 else 0), s"verdict mismatch: $r")
    }
    assert(reg.exists(_._7 == 1) && reg.exists(_._7 == 0),
      "the rule set must discriminate on the sf corpus")

    // the funnel rollup must equal its recomputation from the per-doc
    // rows (both faces of one scan — any drift is a spelling bug)
    val fun = TextAnalytics.gopherFunnel(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(fun._1 == reg.length && fun._2 == reg.count(_._2.isEmpty), fun.toString)
    assert(fun._3 == reg.count(r => r._2.exists(n =>
      n < TextAnalytics.GopherMinTokens || n > TextAnalytics.GopherMaxTokens)),
      fun.toString)
    assert(fun._4 == reg.count(_._3.exists(m => m < 3.0 || m > 10.0)), fun.toString)
    assert(fun._5 == reg.count(_._4.exists(_ > 0.1)), fun.toString)
    assert(fun._6 == reg.count(_._5.exists(_ < 0.8)), fun.toString)
    assert(fun._7 == reg.count(_._6.exists(_ < TextAnalytics.GopherRequiredHits)),
      fun.toString)
    assert(fun._8 == reg.count(_._7 == 1), fun.toString)
  }

  /** The n-gram repetition signals: hand-computed fixture values per
    * gram size, the short-doc row-drop rule, and on the sf corpus the
    * structural identities (n_grams = n_tokens − n + 1 for every
    * emitted (doc, n); dup fraction bounded).
    */
  test("ngram repetition: hand-checked fractions, row drops, sf identities") {
    val dir = writeDocs("ngramrep", Seq(
      (0L, "x y x y x y", "en", "s", 11L),
      (1L, (1 to 12).map(i => s"tok$i").mkString(" "), "en", "s", 1L),
      (2L, null, "en", "s", 1L)))
    val fusedRows = TextAnalytics.ngramRepetition(spark, dir)
      .as[(Long, Int, Long, Option[Double], Double)].collect()
    val algRows = TextAnalytics.ngramRepetitionAlgebra(spark, dir)
      .as[(Long, Int, Long, Option[Double], Double)].collect()
    assert(fusedRows.toSeq == algRows.toSeq,
      s"fused vs algebra spelling:\n${fusedRows.toSeq}\n${algRows.toSeq}")
    val out = fusedRows
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // doc 0 (6 one-char tokens, n_chars 6): "x y" occurs 3× of 5 grams
    // (frac 3·2/6 = 1.0, every gram duplicated); at n=4 the top gram's
    // occurrences OVERLAP, so the count×len spelling exceeds 1 — the
    // documented contract — and 2 of 3 occurrences are duplicated
    assert(out((0L, 2)) == ((5L, Some(1.0), 1.0)), out((0L, 2)).toString)
    assert(out((0L, 3)) == ((4L, Some(1.0), 1.0)), out((0L, 3)).toString)
    assert(out((0L, 4)) == ((3L, Some(1.3333), 0.6667)), out((0L, 4)).toString)
    assert(out((0L, 5)) == ((2L, Some(0.8333), 0.0)), out((0L, 5)).toString)
    // 6 tokens < 10 → no n=10 row; null text → no rows at all
    assert(!out.contains((0L, 10)) && !out.exists(_._1._1 == 2L), out.toString)
    // the all-distinct doc: every gram size fits (12 ≥ 10), nothing dup
    assert(TextAnalytics.RepetitionNs.forall(n => out.contains((1L, n))),
      out.keySet.toString)
    assert(TextAnalytics.RepetitionNs.forall(n => out((1L, n))._3 == 0.0),
      out.toString)

    // sf corpus: rows exist exactly for n ≤ n_tokens, with the gram
    // count identity and bounded dup fraction
    val nTok = TextAnalytics.repetitionScores(spark, sf)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val reg = TextAnalytics.ngramRepetition(spark, sf)
      .as[(Long, Int, Long, Option[Double], Double)].collect()
    assert(reg.nonEmpty)
    // the fused registered form is row-identical to the relational
    // spelling on the sf corpus at ALL five gram sizes (the n=10 size
    // the gate lockstep below does not reach)
    val regAlg = TextAnalytics.ngramRepetitionAlgebra(spark, sf)
      .as[(Long, Int, Long, Option[Double], Double)].collect()
    assert(reg.toSeq == regAlg.toSeq, "fused vs algebra on the sf corpus")
    reg.foreach { r =>
      assert(r._3 == nTok(r._1) - r._2 + 1,
        s"gram count identity must hold: $r vs ${nTok(r._1)} tokens")
      assert(r._5 >= 0.0 && r._5 <= 1.0, r.toString)
    }
    val expected = nTok.iterator.map { case (_, t) =>
      TextAnalytics.RepetitionNs.count(_ <= t) }.sum
    assert(reg.length == expected,
      s"one row per (doc, fitting n): ${reg.length} vs $expected")
  }

  /** The fused Gopher census vs the retained algebra spelling: every
    * metric column equal on the adversarial fixture set (consecutive /
    * trailing spaces, overlapping dots, non-ASCII, '#' runs, null) and
    * on the sf corpus.
    */
  test("gopher fused census equals the algebra spelling column-for-column") {
    def cmp(df: org.apache.spark.sql.DataFrame): Unit = {
      val cols = Seq("doc_id", "n_tokens", "mean_token_len", "symbol_ratio",
        "alpha_frac", "n_stop_hits", "gopher_ok")
      val fused = TextAnalytics.withGopherColumns(df)
        .select(cols.head, cols.tail: _*)
        .as[(Long, Option[Int], Option[Double], Option[Double],
          Option[Double], Option[Int], Int)].collect().sortBy(_._1)
      val alg = TextAnalytics.withGopherColumnsAlgebra(df)
        .select(cols.head, cols.tail: _*)
        .as[(Long, Option[Int], Option[Double], Option[Double],
          Option[Double], Option[Int], Int)].collect().sortBy(_._1)
      assert(fused.toSeq == alg.toSeq,
        s"fused vs algebra:\n${fused.toSeq}\n${alg.toSeq}")
    }
    cmp(Seq(
      (0L, "the  quick  brown fox "),           // empty tokens kept
      (1L, "a..... b...c. ...d the of"),        // greedy dot runs
      (2L, "café naïve résumé the of and to"), // non-ASCII
      (3L, "### #tag a#b the"),                 // hash runs
      (4L, ""),                                 // empty string: one empty token
      (5L, null.asInstanceOf[String]),
      (6L, (1 to 60).map(i => s"word$i").mkString(" ") + " the a"))
      .toDF("doc_id", "text"))
    cmp(TestSpark.spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  /** The r19 multi-n census: every per-n struct of
    * ngram_rep_stats_multi equals the single-n ngram_rep_stats
    * expression field-for-field on the sf corpus (including NULL text
    * and too-short docs), and its n_chars equals the column-algebra
    * length(replace(text, ' ', '')) it replaces.
    */
  test("ngram rep stats multi: per-n structs and n_chars match the single-n spelling") {
    import org.apache.spark.sql.functions._
    val ns = Seq(2, 3, 4, 5, 10)
    val docs = graft.Tables.documents(spark, sf)
    val multi = graft.functions.TextHashes.ngramRepStatsMultiCol(col("text"), ns)
    val mismatches = docs.select(
      col("doc_id"), multi.as("m"),
      array(ns.map(n =>
        graft.functions.TextHashes.ngramRepStatsCol(col("text"), n)): _*).as("singles"),
      length(replace(col("text"), lit(" "), lit(""))).as("nc"))
      .filter(
        ns.zipWithIndex.map { case (n, i) =>
          !(col(s"m.s$n") <=> col("singles").getItem(i)) }.reduce(_ || _) ||
        !(col("m.n_chars") <=> col("nc")) ||
        (col("text").isNull =!= col("m").isNull))
      .count()
    assert(mismatches == 0L, s"$mismatches docs diverge between multi and single-n")
  }

  /** The fused repetition gate: rule-isolating fixtures (a top-gram
    * failure, a duplicated-5-gram-ONLY failure, null text, a doc too
    * short for any gram), then the sf lockstep — the native-census
    * fractions must equal their recomputation from the relational
    * q_ngram_repetition rows, doc for doc.
    */
  test("repetition gate: rule isolation fixtures and native==relational lockstep") {
    // 8 five-token phrases, each repeated twice adjacently: every
    // phrase's own 5-gram occurs twice (dup5 16/76 = 0.2105 > 0.15)
    // while the max 2/3/4-gram count stays 2 over ~400 chars, so ONLY
    // the duplicated-gram rule fails
    val dupDoc = (1 to 8).map { p =>
      val phrase = ('a' to 'e').map(ch => s"pre$p$ch").mkString(" ")
      s"$phrase $phrase"
    }.mkString(" ")
    val dir = writeDocs("repgate", Seq(
      (0L, (1 to 60).map(i => s"word$i").mkString(" "), "en", "s", 1L),
      (1L, "x y x y x y", "en", "s", 1L),
      (2L, dupDoc, "en", "s", 1L),
      (3L, null, "en", "s", 1L),
      (4L, "solo", "en", "s", 1L)))
    val out = TextAnalytics.repetitionGate(spark, dir)
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Int)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._6 == 1, out(0L).toString)
    // "x y x y x y": top-2-gram covers every char → 1.0 > 0.2
    assert(out(1L)._2.contains(1.0) && out(1L)._6 == 0, out(1L).toString)
    assert(out(2L)._6 == 0 && out(2L)._5.contains(0.2105), out(2L).toString)
    assert(out(2L)._2.exists(_ <= 0.2) && out(2L)._3.exists(_ <= 0.18) &&
      out(2L)._4.exists(_ <= 0.16),
      s"doc 2 must fail ONLY the dup5 rule: ${out(2L)}")
    assert(out(3L)._6 == 0 && out(3L)._2.isEmpty, out(3L).toString)
    // one token: no gram size fits → NULL metrics, rules vacuously pass
    assert(out(4L)._6 == 1 && out(4L)._2.isEmpty && out(4L)._5.isEmpty,
      out(4L).toString)

    // sf lockstep: fused == relational, metric for metric (the
    // relational spelling deliberately — the registered query is now
    // fused too, so this is the family's independence argument)
    val rel = TextAnalytics.ngramRepetitionAlgebra(spark, sf)
      .as[(Long, Int, Long, Option[Double], Double)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    val fused = TextAnalytics.repetitionGate(spark, sf)
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Int)].collect()
    assert(fused.nonEmpty)
    fused.foreach { f =>
      assert(f._2 == rel.get((f._1, 2)).flatMap(_._1), s"top2 ${f._1}")
      assert(f._3 == rel.get((f._1, 3)).flatMap(_._1), s"top3 ${f._1}")
      assert(f._4 == rel.get((f._1, 4)).flatMap(_._1), s"top4 ${f._1}")
      assert(f._5 == rel.get((f._1, 5)).map(_._2), s"dup5 ${f._1}")
      // verdict ≡ its recomputation from the reported fractions (docs
      // with any metric defined have non-null text, so the text-null
      // failure clause cannot mask the recompute)
      if (f._2.isDefined) {
        val want = f._2.forall(_ <= 0.20) && f._3.forall(_ <= 0.18) &&
          f._4.forall(_ <= 0.16) && f._5.forall(_ <= 0.15)
        assert(f._6 == (if (want) 1 else 0), s"verdict mismatch: $f")
      }
    }
  }

  /** The rewrite form: overlapping duplicated windows must merge into
    * one removed span (the interval fold), within-doc repeats must not
    * scrub, and n_removed must equal the token-count delta of the
    * rebuilt text.
    */
  test("dup-span scrub removes merged cross-doc spans and nothing else") {
    val t = (1 to 10).map(i => s"t$i").mkString(" ")
    val s = (1 to 12).map(i => s"s$i").mkString(" ")
    val x = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (0L, s"a $x $x"),      // within-doc repeats only → untouched
      (1L, s"b1 b2 b3 $t"),  // shared 10-gram at offset 3
      (2L, s"$t c1"),        // shared 10-gram at offset 0
      (3L, s"$s d1"),        // shared 12-run → 3 overlapping windows
      (4L, s"e1 $s"),        //   merged into ONE 12-token removal
      (5L, null))
    val dir = writeDocs("dupspan",
      docs.map { case (id, tx) => (id, tx, "en", "s", 1L) })
    val got = Dedup.dupSpanScrub(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(got(0L) == ((21L, 0L, Some(s"a $x $x"))),
      s"within-doc repeats must not scrub: $got")
    assert(got(1L) == ((13L, 10L, Some("b1 b2 b3"))), got.toString)
    assert(got(2L) == ((11L, 10L, Some("c1"))), got.toString)
    assert(got(3L) == ((13L, 12L, Some("d1"))), got.toString)
    assert(got(4L) == ((13L, 12L, Some("e1"))), got.toString)
    assert(got(5L) == ((0L, 0L, None)), got.toString)
    // the fold and the filter agree: n_removed == n_tokens - |kept|
    got.values.foreach { case (nTok, nRem, clean) =>
      val keptCount = clean.map(c =>
        if (c.asInstanceOf[String].isEmpty) 0
        else c.asInstanceOf[String].split(" ").length).getOrElse(0)
      assert(nTok - nRem == keptCount, s"fold/filter disagree: $got")
    }
  }

  /** The ExactSubstr-realistic span length: at n=50 only a verbatim
    * span of ≥ 50 tokens scrubs — a 49-token cross-doc share produces
    * no duplicated 50-window and must pass untouched. Pins that the
    * registered q_dup_span_scrub_n50 variant changes ONLY the window
    * length, not the coverage/rebuild semantics the n=10 oracle checks.
    */
  test("dup-span scrub at n=50 removes 50-token shares and ignores 49-token ones") {
    val s50 = (1 to 50).map(i => s"a$i").mkString(" ")
    val s49 = (1 to 49).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (0L, s"$s50 x1"),   // shared 50-run at offset 0
      (1L, s"y1 $s50"),   // shared 50-run at offset 1
      (2L, s"$s49 x2"),   // 49-token share: below the window — untouched
      (3L, s"y2 $s49"))
    val dir = writeDocs("dupspan50",
      docs.map { case (id, tx) => (id, tx, "en", "s", 1L) })
    val got = Dedup.dupSpanScrub(spark, dir, n = 50)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(0L) == ((51L, 50L, "x1")), got.toString)
    assert(got(1L) == ((51L, 50L, "y1")), got.toString)
    assert(got(2L) == ((50L, 0L, s"$s49 x2")),
      s"sub-window share must not scrub: $got")
    assert(got(3L) == ((50L, 0L, s"y2 $s49")), got.toString)
  }

  /** Banding-curve sweep invariants. Recall and candidate work are
    * provably monotone along NESTED splits of the fixed k=12 budget —
    * a coarse band's all-rows-equal event implies an aligned finer
    * band's, and each coarse co-bucket pair maps injectively to a finer
    * one: (2,6) ≤ {(3,4), (4,3)} ≤ (6,2) ≤ (12,1). ((3,4) vs (4,3) is
    * the one incomparable pair — 3-aligned intervals straddle 4-aligned
    * ones — so it is deliberately NOT pinned.) The (6,2) row must equal
    * [[Dedup.neardupRecall]]'s minhash_lsh number on the same corpus:
    * same predicate, same truth, one implementation check of the other.
    */
  test("lsh tuning: recall and candidate work are monotone along nested band splits") {
    // near-dup pairs of graded similarity: doc 2i repeats a 20-token
    // base, doc 2i+1 replaces the trailing i tokens — J decays with i,
    // so coarse bandings miss the weak pairs the fine ones catch
    val docs = (0 until 6).flatMap { i =>
      val base = (1 to 20).map(j => s"w${i}_$j")
      val mut = base.dropRight(i) ++ (1 to i).map(j => s"m${i}_$j")
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, mut.mkString(" ")))
    }
    val dir = writeDocs("lshtune",
      docs.map { case (id, tx) => (id, tx, "en", "s", 1L) })
    val got = Dedup.lshTuning(spark, dir)
      .as[(Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == Set((2, 6), (3, 4), (4, 3), (6, 2), (12, 1)), got.toString)
    def rec(c: (Int, Int)) = got(c)._1
    def work(c: (Int, Int)) = got(c)._2
    val chains = Seq(
      (2, 6) -> (3, 4), (2, 6) -> (4, 3),
      (3, 4) -> (6, 2), (4, 3) -> (6, 2), (6, 2) -> (12, 1))
    chains.foreach { case (lo, hi) =>
      assert(rec(lo) <= rec(hi), s"recall must not drop $lo -> $hi: $got")
      assert(work(lo) <= work(hi), s"candidate work must not drop $lo -> $hi: $got")
    }
    // the exact-dup pair (i=0) collides in every band of every config
    assert(rec((2, 6)) > 0L, s"exact dup must be recalled everywhere: $got")
    assert(work((2, 6)) > 0L, got.toString)
    // the registered default's row IS neardupRecall's minhash_lsh number
    val nd = Dedup.neardupRecall(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(rec((6, 2)) == nd("minhash_lsh"),
      s"(6,2) sweep row must equal the recall tracker: $got vs $nd")
  }

  /** Order-2 separation: two docs with IDENTICAL token multisets (so the
    * unigram model scores them equal) but different word order — the one
    * whose bigrams leave the reference's support must score strictly
    * worse under the bigram model.
    */
  test("bigram perplexity separates word orders the unigram model cannot") {
    val refText = "alpha alpha alpha beta beta beta" // bigrams: aa aa ab bb bb
    val docs = Seq(
      (0L, refText),                                  // reference (mod 5)
      (5L, refText),                                  // reference (mod 5)
      (1L, refText),                                  // held-out, ref order
      (2L, "alpha beta alpha beta alpha beta"))       // same tokens, alien order
    val dir = writeDocs("bigram", docs.map { case (id, t) => (id, t, "en", "s", 1L) })
    val uni = Perplexity.perplexityScores(spark, dir, nBuckets = 64)
      .select("doc_id", "avg_nlp_micros").as[(Long, Long)].collect().toMap
    assert(uni(1L) == uni(2L),
      s"unigram model must be order-blind on equal multisets: $uni")
    val bi = Perplexity.perplexityScoresBigram(spark, dir, nBuckets = 256)
      .select("doc_id", "avg_nlp_micros").as[(Long, Long)].collect().toMap
    assert(bi(2L) > bi(1L),
      s"bigram model must punish the out-of-support order: $bi")
    assert(bi(1L) == bi(0L), s"ref-order twin scores like the reference: $bi")
  }

  /** The registered 100 TB tercile path: scores are identical by
    * construction (only the threshold aggregate differs), and labels
    * agree EXCEPT where a doc's score sits exactly ON a sketch
    * threshold — exact `percentile` interpolates between two observed
    * scores while the sketch returns an observed one, so the tied doc
    * lands one tercile head-ward (`<=` boundary rule). This pin makes
    * that the ONLY permitted divergence: every mismatch must be exactly
    * one step head-ward, sit on the sketch threshold (= the max score of
    * its approx (lang, bucket) group), and stay a rare boundary event.
    */
  private def assertApproxLockstep(
      exactDf: org.apache.spark.sql.DataFrame,
      approxDf: org.apache.spark.sql.DataFrame, order: String): Unit = {
    val exact = exactDf
      .select("doc_id", "lang", "avg_nlp_micros", "ppl_bucket")
      .as[(Long, String, Long, String)].collect()
    val approx = approxDf
      .select("doc_id", "lang", "avg_nlp_micros", "ppl_bucket")
      .as[(Long, String, Long, String)].collect()
    assert(exact.map(r => (r._1, r._2, r._3)).toSeq ==
      approx.map(r => (r._1, r._2, r._3)).toSeq,
      s"$order: scores must be identical — only thresholds may differ")
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    val exactLabel = exact.map(r => r._1 -> r._4).toMap
    val sketchTh = approx.groupBy(r => (r._2, r._4))
      .view.mapValues(_.map(_._3).max).toMap
    val mismatches = approx.filter(r => exactLabel(r._1) != r._4)
    assert(mismatches.length <= exact.length / 50,
      s"$order: ${mismatches.length}/${exact.length} label mismatches — beyond boundary ties")
    mismatches.foreach { r =>
      assert(rank(r._4) == rank(exactLabel(r._1)) - 1,
        s"$order: mismatch must move exactly one tercile head-ward: $r")
      assert(r._3 == sketchTh((r._2, r._4)),
        s"$order: mismatch must sit ON the sketch threshold: $r")
    }
  }

  test("approx perplexity buckets: lockstep with exact except threshold-tied docs move head-ward") {
    assertApproxLockstep(
      Perplexity.perplexityBuckets(spark, sf),
      Perplexity.perplexityBucketsApprox(spark, sf), "unigram")
  }

  test("approx bigram perplexity buckets: same tie-bound lockstep as the unigram pair") {
    assertApproxLockstep(
      Perplexity.perplexityBucketsBigram(spark, sf),
      Perplexity.perplexityBucketsBigramApprox(spark, sf), "bigram")
  }

  /** Incremental semantic dedup: a batch twin of a frozen vector drops
    * with the right attribution and a full-scale quantized dot; an
    * orthogonal batch vector is kept. (Identical vectors always share an
    * LSH bucket — the plane table is static.)
    */
  test("incremental semantic dedup drops the frozen twin, keeps the orthogonal vector") {
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
    val corpus = df(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f)))
    val batch = df(Seq(
      1L -> Seq(1f, 0f, 0f, 0f),   // exact twin of frozen 0: drop
      2L -> Seq(0f, 1f, 0f, 0f),   // orthogonal to everything: keep
      3L -> Seq(0f, 0f, -1f, 0f))) // anti-parallel to 4: cos -1, keep
    val got = Similarity.semanticDedupAgainst(batch, corpus,
        minCosine = 0.9, nBits = 2)
      .as[(Long, Option[Long], Long, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2, r._4)) == Seq(
      (1L, Some(0L), 1), (2L, None, 0), (3L, None, 0)), got.toString)
    // the twin's quantized cosine is the full 1e12 scale
    assert(got.head._3 == 1000000000000L, got.toString)
  }

  // ------------------------------------------------------- CorpusStats

  /** α = 0.5 temperature: a lang with 4× the tokens gets exactly 2× the
    * weight (√4 = 2) — model-exact micros, null text counts zero.
    */
  test("mixture weights: sqrt temperature upsamples the tail, model-exact") {
    val big = (1 to 400).map(_ => "tok").mkString(" ")   // 400 tokens
    val small = (1 to 100).map(_ => "tok").mkString(" ") // 100 tokens
    val dir = writeDocs("mix", Seq(
      (0L, big, "en", "s", 1L),
      (1L, small, "fr", "s", 1L),
      (2L, null.asInstanceOf[String], "fr", "s", 1L))) // 0 tokens
    val got = CorpusStats.mixtureWeights(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // sqrt: pq(en)=20e6, pq(fr)=10e6 -> weights 2/3 and 1/3 in micros
    assert(got("en") == ((400L, 666667L)), got.toString)
    assert(got("fr") == ((100L, 333333L)), got.toString)
    // proportional sampling would give en 0.8: alpha<1 shifted mass to fr
    assert(got("fr")._2 > 200000L)
  }

  test("corpus stats: hapax, head coverage, and type-token on a crafted lang") {
    val dir = writeDocs("cstats", Seq(
      // lang xx: tokens a a a b b c -> 3 types, hapax {c},
      // head-2 = a+b = 5 of 6
      (0L, "a a a b b c", "xx", "s", 1L),
      // lang yy: all hapax; head-2 covers 2 of 3 occurrences
      (1L, "p q r", "yy", "s", 1L)))
    val got = CorpusStats.corpusStats(spark, dir, headK = 2)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("xx", 1L, 6L, 3L, 1L, 0.333333, 0.833333, 0.5),
      ("yy", 1L, 3L, 3L, 3L, 1.0, 0.666667, 1.0)))
  }

  test("source JS divergence: 0 for identical, ln2 for disjoint, model-exact between") {
    // s1 and s2: identical distributions (a:2 b:1) -> jsd 0
    // s3: disjoint vocabulary (x y z) -> jsd vs s1/s2 = ln 2
    // s4: same vocab as s1, different freqs (a:1 b:2) -> analytic value
    val dir = writeDocs("jsd", Seq(
      (0L, "a a b", "en", "s1", 5L),
      (1L, "a a b", "en", "s2", 5L),
      (2L, "x y z", "en", "s3", 5L),
      (3L, "a b b", "en", "s4", 5L)))
    val got = CorpusStats.sourceDivergence(spark, dir)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.size == 6) // all 4-choose-2 pairs present, none dropped
    assert(got(("s1", "s2")) == ((2L, 0.0)))
    assert(got(("s1", "s3")) == ((0L, 0.693147))) // ln 2 at 6 dp
    assert(got(("s2", "s3")) == ((0L, 0.693147)))
    // s1 = (a:2/3, b:1/3) vs s4 = (a:1/3, b:2/3), M = (1/2, 1/2):
    // JSD = ½[⅔ln(4/3)+⅓ln(2/3)] + ½[⅓ln(2/3)+⅔ln(4/3)] -- per-token
    // independent model with the operator's nano-quantization applied
    val p = Seq((2.0 / 3, 1.0 / 3), (1.0 / 3, 2.0 / 3))
    val sq = p.map { case (pa, pb) =>
      math.floor((pa * math.log(2.0 * pa / (pa + pb))
        + pb * math.log(2.0 * pb / (pa + pb))) * 1e9 + 0.5).toLong
    }.sum
    val expect = math.floor(0.5 * (sq.toDouble / 1e9) * 1e6 + 0.5) / 1e6
    assert(got(("s1", "s4")) == ((2L, expect)))
    assert(got(("s2", "s4")) == ((2L, expect)))
    // symmetry of construction: s3 vs s4 also maximal
    assert(got(("s3", "s4")) == ((0L, 0.693147)))
  }

  test("source entropy: uniform hits ln V, skew lowers it, single-token floors at 0") {
    val dir = writeDocs("entropy", Seq(
      (0L, "a b c d", "en", "uniform", 7L), // 4 distinct, p=1/4 each
      (1L, "a a a b", "en", "skewed", 7L), // same V=2 support, heavy skew
      (2L, "x x x x", "en", "constant", 7L))) // 1 token: H = 0, norm 0
    val got = CorpusStats.sourceEntropy(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // uniform: H = ln 4, normalized exactly 1.0 (modulo nano-quantization)
    val h4 = got("uniform")
    assert(h4._2 == 4L && h4._3 == 4L)
    assert(math.abs(h4._4 - math.log(4.0)) < 1e-6 && math.abs(h4._5 - 1.0) < 1e-6)
    // skewed (3/4, 1/4): H = -(3/4)ln(3/4) - (1/4)ln(1/4) < ln 2
    val hs = got("skewed")
    val expect = -(0.75 * math.log(0.75)) - (0.25 * math.log(0.25))
    assert(math.abs(hs._4 - expect) < 1e-6 && hs._5 < 1.0)
    // single-token: zero entropy, guarded normalized form
    assert(got("constant")._4 == 0.0 && got("constant")._5 == 0.0)
  }

  test("winnowing: shared >= w+k-1 token run guarantees a shared fingerprint hash") {
    // k=3, w=4: guarantee threshold is 6 shared consecutive tokens.
    // A and B embed the same 6-token run in different contexts at
    // different positions; C shares no vocabulary at all.
    val run = "red orange yellow green blue indigo"
    val dir = writeDocs("winnow", Seq(
      (0L, s"alpha beta $run gamma delta epsilon", "en", "s", 1L),
      (1L, s"one two three four $run", "en", "s", 1L),
      (2L, "cat dog fish bird mouse horse cow hen", "en", "s", 1L),
      (3L, "too short", "en", "s", 1L))) // < 6 tokens: no window, absent
    val fps = TextAnalytics.winnowFingerprints(spark, dir)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(fps.keySet == Set(0L, 1L, 2L)) // doc 3 absent by definition
    assert((fps(0L) & fps(1L)).nonEmpty,
      "docs sharing a 6-token run must share a fingerprint hash")
    assert((fps(0L) & fps(2L)).isEmpty && (fps(1L) & fps(2L)).isEmpty,
      "disjoint-vocabulary doc collided — hash fold broken?")
    // density sanity: selections per doc stay near the 2/(w+1) bound,
    // never more than the number of complete windows
    val perDoc = TextAnalytics.winnowFingerprints(spark, dir)
      .as[(Long, Long, Long)].collect().groupBy(_._1).view.mapValues(_.length)
    perDoc.foreach { case (_, n) => assert(n >= 1 && n <= 8) }
    // the MOSS report surfaces exactly the sharing pair (0,1) — the
    // disjoint doc 2 pairs with nobody at minShared = 1, let alone 2
    val matches = TextAnalytics.winnowMatches(spark, dir, minShared = 1)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(matches.map(m => (m._1, m._2)) == Seq((0L, 1L)), matches.toString)
    val m01 = matches.head
    assert(m01._3 >= 1 && m01._3 <= math.min(m01._4, m01._5) &&
      m01._6 > 0.0 && m01._6 <= 1.0)
  }

  test("winnow stop-fingerprint cap drops a planted hot fp; legitimate sharing survives") {
    // Docs 2-5 are EXACTLY boilerplate run B, so every fingerprint they
    // select is also selected by docs 0 and 1 (which start with B): df =
    // 6 for all of them, and every doc pairs with every other through B
    // alone. Docs 0 and 1 additionally share legitimate run L — those
    // fingerprints (and the B→L straddle windows) have df = 2. A maxDf
    // of 4 must erase B's clique without touching the (0,1) sharing.
    // (B sits at position 0 everywhere so no boundary window can select
    // a B-gram in only a strict subset of docs — the df spectrum is
    // exactly {6, 2, 1}, making the capped answer deterministic.)
    val boiler = "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    val legit = "ichi ni san shi go roku shichi hachi kyu ju juichi juni"
    val dir = writeDocs("stopfp", Seq(
      (0L, s"$boiler $legit grape melon", "en", "s", 1L),
      (1L, s"$boiler $legit wood coal", "en", "s", 1L),
      (2L, boiler, "en", "s", 1L),
      (3L, boiler, "en", "s", 1L),
      (4L, boiler, "en", "s", 1L),
      (5L, boiler, "en", "s", 1L)))
    // uncapped (default maxDf is far above df = 6): all C(6,2) pairs fire
    val open = TextAnalytics.winnowMatches(spark, dir, minShared = 1)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(open.size == 15, s"boilerplate must pair every doc uncapped: $open")
    // capped at 4: only the legitimate (0,1) sharing survives, and its
    // n_shared counts L's fingerprints alone (strictly below uncapped)
    val capped = TextAnalytics.winnowMatches(spark, dir, minShared = 1, maxDf = 4)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped.keySet == Set((0L, 1L)), s"only the legit pair survives: $capped")
    assert(capped((0L, 1L)) >= 1 && capped((0L, 1L)) < open((0L, 1L)),
      "capped n_shared must drop the boilerplate fingerprints but keep L's")
  }

  test("winnow components: chains close transitively, isolated docs self-label, sf partition matches union-find") {
    // chain fixture: 0 shares run P with 1, 1 shares run Q with 2, but
    // 0 and 2 share nothing directly — the exact closure must put all
    // three in ONE cluster labeled 0; doc 3 is isolated and self-labels
    val runP = "papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu alfa"
    val runQ = "north south east west upward downward leftside rightside forward backward inward outward"
    val dir = writeDocs("wcomp", Seq(
      (0L, s"aa bb $runP cc dd", "en", "s", 1L),
      (1L, s"$runP middle words $runQ", "en", "s", 1L),
      (2L, s"ee ff $runQ gg hh", "en", "s", 1L),
      (3L, "totally isolated vocabulary nobody shares here today", "en", "s", 1L)))
    val got = TextAnalytics.winnowComponents(spark, dir, minShared = 1)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      0L -> ((0L, 1)), 1L -> ((0L, 0)), 2L -> ((0L, 0)), 3L -> ((3L, 1))),
      s"chain must close into one min-id cluster: $got")
    // sanity vs the pair list: 0~1 and 1~2 are pairs, 0~2 is NOT
    val pairs = TextAnalytics.winnowMatches(spark, dir, minShared = 1)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L)), pairs.toString)

    // sf corpus: the registered components must be exactly the
    // union-find closure of the registered match pairs (independent
    // in-memory oracle), and every fingerprinted doc must appear
    val sfPairs = TextAnalytics.winnowMatches(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2))
    val comp = TextAnalytics.winnowComponents(spark, sf)
      .as[(Long, Long, Int)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    comp.foreach { case (id, _, _) => parent.getOrElseUpdate(id, id) }
    sfPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = comp.map { case (id, _, _) => id -> find(id) }.toMap
    comp.foreach { case (id, rep, isRep) =>
      assert(rep == expected(id), s"doc $id: component $rep != union-find ${expected(id)}")
      assert((rep == id) == (isRep == 1))
    }
  }

  test("winnow pile collapse: matches/topk/components equal doc-level brute force on a replicated corpus") {
    // the r14 scale probe's exact stress, reproduced both ways:
    // byte-identical replicas (text piles collapse them; x4 pushes
    // base fps over the WinnowHeavyDf=16 boundary so the heavy PILE
    // path is genuinely exercised) and replica-TOKEN-prefix replicas
    // (the probe's actual corpus shape — the prefix fps are shared
    // across docs with equal leading tokens, the light-side case).
    // The heavy/light path must emit the SAME doc-level report the
    // quadratic doc-pair join would, including the two pile corner
    // cases: a dup pile too short for ANY fingerprint (absent
    // everywhere) and a dup pile with exactly 1 fp (< minShared=2 —
    // members must NOT pair, not even with their own replicas, and
    // must self-label in components)
    val base = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val rep = base
      .unionAll(base.withColumn("doc_id", col("doc_id") + 10000000L))
      .unionAll(base.withColumn("doc_id", col("doc_id") + 12000000L))
      .unionAll(base.withColumn("doc_id", col("doc_id") + 14000000L))
      .unionAll(base
        .withColumn("doc_id", col("doc_id") + 20000000L)
        .withColumn("text", concat(lit("r2 "), col("text"))))
      .unionAll(base
        .withColumn("doc_id", col("doc_id") + 22000000L)
        .withColumn("text", concat(lit("r3 "), col("text"))))
      .unionAll(Seq(
        (30000001L, "zz1 zz2 zz3", "en", "s", 1L), // no fps (< w+k−1 tokens)
        (30000002L, "zz1 zz2 zz3", "en", "s", 1L),
        (30000003L, "yy1 yy2 yy3 yy4 yy5 yy6", "en", "s", 1L), // exactly 1 fp
        (30000004L, "yy1 yy2 yy3 yy4 yy5 yy6", "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("wpile").toString
    rep.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // doc-level brute force from the registered fingerprint selection
    val fps = TextAnalytics.winnowFingerprints(spark, dir)
    val full = TextAnalytics.matchesFromFingerprints(fps,
      TextAnalytics.WinnowMinShared, TextAnalytics.WinnowMaxDf)
      .localCheckpoint() // the topk + components references re-read it
    val wantPairs = full.as[(Long, Long, Long, Long, Long, Double)]
      .collect().toSet
    // pileCutover = 0 forces the heavy/light PILE plan (this 3.5k-doc
    // fixture would otherwise route doc-level under the r16 adaptive
    // cutover); the default-cutover call below pins the ADAPTIVE entry
    // point to the same report from its doc-level side
    val gotPairs = TextAnalytics.winnowMatches(spark, dir, pileCutover = 0L)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(gotPairs.nonEmpty && gotPairs == wantPairs,
      s"pile matches diverge: extra=${(gotPairs -- wantPairs).take(3)} missing=${(wantPairs -- gotPairs).take(3)}")
    val adaptivePairs = TextAnalytics.winnowMatches(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(adaptivePairs == wantPairs, "adaptive-cutover matches diverge from brute force")
    // intra-pile pairs exist (each fingerprinted original fans C(3,2))
    // and the 1-fp pile produced none
    assert(gotPairs.exists { case (a, b, _, _, _, f) => b - a == 10000000L && f == 1.0 })
    assert(!gotPairs.exists(p => p._1 >= 30000000L || p._2 >= 30000000L))

    // topk reference: symmetrize + rank the brute pair list (the r14
    // doc-level winnowMatchesTopK body, verbatim semantics)
    val sym = full.select(col("doc_a").as("doc_id"), col("doc_b").as("partner"),
        col("n_shared"), col("n_a").as("n_doc"), col("n_b").as("n_partner"))
      .unionAll(full.select(col("doc_b").as("doc_id"), col("doc_a").as("partner"),
        col("n_shared"), col("n_b").as("n_doc"), col("n_a").as("n_partner")))
    val wantTopk = sym.withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n_shared").desc, col("partner").asc)))
      .filter(col("rnk") <= TextAnalytics.WinnowTopK)
      .select(col("doc_id"), col("rnk").cast("int"), col("partner"), col("n_shared"),
        col("n_doc"), col("n_partner"),
        graft.functions.PortableRound.r(col("n_shared").cast("double")
          / least(col("n_doc"), col("n_partner")).cast("double"), 4).as("overlap_frac"))
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
    val gotTopk = TextAnalytics.winnowMatchesTopK(spark, dir, pileCutover = 0L)
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
    assert(gotTopk == wantTopk,
      s"pile topk diverges: extra=${(gotTopk -- wantTopk).take(3)} missing=${(wantTopk -- gotTopk).take(3)}")
    val adaptiveTopk = TextAnalytics.winnowMatchesTopK(spark, dir)
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
    assert(adaptiveTopk == wantTopk, "adaptive-cutover topk diverges from brute force")

    // components reference: union-find over the brute pair list, one
    // row per doc with >= 1 surviving fp
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    wantPairs.toSeq.sortBy(p => (p._1, p._2)).foreach { case (a, b, _, _, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val gotComp = TextAnalytics.winnowComponents(spark, dir, pileCutover = 0L)
      .as[(Long, Long, Int)].collect()
    val fpDocs = fps.select("doc_id").distinct().as[Long].collect().toSet
    assert(gotComp.map(_._1).toSet == fpDocs, "one row per fingerprinted doc")
    gotComp.foreach { case (id, repId, isRep) =>
      assert(repId == find(id), s"doc $id: pile rep $repId != union-find ${find(id)}")
      assert((repId == id) == (isRep == 1))
    }
    // the 1-fp dup pile self-labels (its members never cleared minShared)
    assert(gotComp.filter(_._1 >= 30000003L).forall(r => r._2 == r._1 && r._3 == 1))
    val adaptiveComp = TextAnalytics.winnowComponents(spark, dir)
      .as[(Long, Long, Int)].collect().toSet
    assert(adaptiveComp == gotComp.toSet, "adaptive-cutover components diverge from pile plan")

    // h-invariance: the heavy/light boundary is a pure cost knob —
    // all-heavy (h=2: the light range [2, h) is empty) and all-light
    // (h=MaxValue: no fp reaches the pile path) must reproduce the
    // default-h report bit for bit
    Seq(2, Int.MaxValue).foreach { h =>
      val atH = TextAnalytics.winnowMatchesTopK(spark, dir, heavyDf = h,
          pileCutover = 0L)
        .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
      assert(atH == gotTopk, s"heavyDf=$h diverged from default topk")
      val compAtH = TextAnalytics.winnowComponents(spark, dir, heavyDf = h,
          pileCutover = 0L)
        .as[(Long, Long, Int)].collect().toSet
      assert(compAtH == gotComp.toSet, s"heavyDf=$h diverged from components")
    }
  }

  test("salted pile shortlist: a giant replica pile reports the same topk as the doc-level form") {
    // r15 advice #4: the topk shortlist window now pre-filters with a
    // salted per-(pile, doc_id % 8) min-k before the per-pile rank. A
    // 60-member pile (> (topK+1)·1 per salt group) exercises the
    // salt-drop path — phase 1 MUST drop rows here — and the report
    // must still equal the doc-level brute force exactly.
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = (1L to 60L).map(i => (i, body, "en", "s", 1L)) ++
      Seq((100L, (1 to 40).map(i => s"z$i").mkString(" "), "en", "s", 1L))
    val dir = Files.createTempDirectory("saltpile").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pile = TextAnalytics.winnowMatchesTopK(spark, dir, pileCutover = 0L)
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
    val brute = TextAnalytics.topkFromFingerprints(
      TextAnalytics.winnowFingerprints(spark, dir),
      TextAnalytics.WinnowMinShared, TextAnalytics.WinnowMaxDf,
      TextAnalytics.WinnowTopK)
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet
    assert(pile == brute,
      s"salted shortlist diverged: extra=${(pile -- brute).take(3)} missing=${(brute -- pile).take(3)}")
    // every pile member reports exactly topK partners (59 candidates each)
    assert(pile.count(_._1 <= 60L) == 60 * TextAnalytics.WinnowTopK)
  }

  test("pair-budget guard refuses over-budget pair reports, naming the bounded twin; twins unaffected") {
    // r15 verdict ask #8: the three answer-quadratic pair LISTS must be
    // un-invokable by accident at scale — a configurable output budget
    // refuses with an actionable error steering to the bounded twin.
    // Fixture: two byte-identical 60-token docs (≥ 2 shared winnow fps,
    // all LSH bands equal, Jaccard 1.0 — every report emits ≥ 1 pair)
    // plus two unrelated docs.
    val body = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val dir = Files.createTempDirectory("pairbudget").toString
    Seq((1L, body, "en", "s", 1L), (2L, body, "en", "s", 1L),
      (3L, other, "en", "s", 1L), (4L, "short text here okay", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def chainMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(' ').append(String.valueOf(c.getMessage)); c = c.getCause }
      sb.toString
    }
    def refuses(df: => org.apache.spark.sql.DataFrame, twin: String): Unit = {
      val m = chainMsg(intercept[Exception](df.collect()))
      assert(m.contains("pairBudget") && m.contains(twin),
        s"guard error must name pairBudget and the twin '$twin': $m")
    }
    refuses(TextAnalytics.winnowMatches(spark, dir, pairBudget = 0L),
      "winnowComponents")
    // the guard must fire on the PILE plan too (pileCutover = 0)
    refuses(TextAnalytics.winnowMatches(spark, dir, pileCutover = 0L,
      pairBudget = 0L), "winnowComponents")
    refuses(Dedup.minhashLshPairs(spark, dir, pairBudget = 0L),
      "minhashComponents")
    refuses(Dedup.ngramJaccardPairs(spark, dir, pairBudget = 0L),
      "minhashComponents")
    // default budget: all three emit the fixture's pairs untouched, and
    // the bounded twins take no budget at all
    assert(TextAnalytics.winnowMatches(spark, dir).count() >= 1)
    assert(Dedup.minhashLshPairs(spark, dir).count() >= 1)
    assert(Dedup.ngramJaccardPairs(spark, dir).count() >= 1)
    assert(TextAnalytics.winnowMatchesTopK(spark, dir).count() >= 2)
    assert(TextAnalytics.winnowComponents(spark, dir).count() >= 2)

    // r16 verdict ask #8: the remaining answer-quadratic pair lists
    // carry the same guard — simhash pairs (identical docs 1, 2 share a
    // fingerprint → ≥ 1 pair at any budget) and both embedding near-dup
    // forms (identical embeddings verify at any threshold)
    refuses(Dedup.simhashPairs(spark, dir, pairBudget = 0L),
      "simhashClusters")
    def unit(i: Int): Array[Float] = { val v = new Array[Float](4); v(i) = 1f; v }
    Seq((1L, unit(0), 0), (2L, unit(0), 0), (3L, unit(1), 0), (4L, unit(2), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    refuses(Similarity.embeddingNearDups(spark, dir, minCosine = 0.9, nBits = 8,
      pairBudget = 0L), "semanticDedup")
    refuses(Similarity.embeddingNearDupsOr(spark, dir, minCosine = 0.9,
      pairBudget = 0L), "semanticDedup")
    // default budget: all three emit the fixture's pairs untouched
    assert(Dedup.simhashPairs(spark, dir).count() >= 1)
    assert(Similarity.embeddingNearDups(spark, dir, minCosine = 0.9, nBits = 8).count() >= 1)
    assert(Similarity.embeddingNearDupsOr(spark, dir, minCosine = 0.9).count() >= 1)
  }

  test("winnow tuning: w-axis counts are subset-monotone; (3,4) cell equals registered queries") {
    val cells = TextAnalytics.winnowTuning(spark, sf)
      .as[(Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(cells.keySet == TextAnalytics.WinnowGrid.toSet)
    // nested-window inclusion: selections at larger w are a subset per
    // doc, so both counts are non-increasing along w at fixed k
    assert(cells((3, 8))._1 <= cells((3, 4))._1 &&
      cells((3, 4))._1 <= cells((3, 2))._1, cells.toString)
    assert(cells((3, 8))._2 <= cells((3, 4))._2 &&
      cells((3, 4))._2 <= cells((3, 2))._2, cells.toString)
    // the registered-default cell must agree with the standalone queries
    assert(cells((3, 4))._1 == TextAnalytics.winnowFingerprints(spark, sf).count())
    assert(cells((3, 4))._2 == TextAnalytics.winnowMatches(spark, sf).count())
  }

  test("winnow tuning: cascade (registered) equals the per-cell spelling row-for-row") {
    // r19: the registered spelling derives the doubled-w minima via the
    // min-composition identity; the retained per-cell window form is
    // the independent implementation — they must agree on the sf corpus
    // and on a non-doubling grid (which exercises the cascade's
    // per-k fallback)
    val reg = TextAnalytics.winnowTuning(spark, sf)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val cell = TextAnalytics.winnowTuningPerCell(spark, sf)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(reg == cell, s"cascade vs per-cell:\n$reg\n$cell")
    val oddGrid = Seq((3, 2), (3, 3), (4, 4))
    val regOdd = TextAnalytics.winnowTuning(spark, sf, oddGrid)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val cellOdd = TextAnalytics.winnowTuningPerCell(spark, sf, oddGrid)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(regOdd == cellOdd, s"fallback grid:\n$regOdd\n$cellOdd")
  }

  test("source datasheet composes the diagnostics; null-text sources outside the card") {
    // long shared run: enough winnow windows for >= 2 shared hashes at
    // the registered minShared = 2 (a single w+k-1 run shares only one)
    val run = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val dir = writeDocs("card", Seq(
      (0L, s"aa bb $run cc dd", "en", "boiler", 1L),
      (1L, s"ee ff $run gg hh", "en", "boiler", 1L), // within-source pair
      (2L, "clean distinct words only here today", "en", "plain", 1L),
      (3L, null, "en", "ghost", 0L))) // all-null source: outside the card
    val got = CorpusStats.sourceDatasheet(spark, dir)
      .as[(String, Long, Long, Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("boiler", "plain"), got.keySet.toString)
    assert(got("boiler")._8 == 1L, "within-source pair must surface as boilerplate")
    assert(got("plain")._8 == 0L, "no self-pairs must coalesce to 0")
    assert(got("boiler")._2 == 2L && got("plain")._2 == 1L) // n_docs from charset side
  }

  test("winnow novelty: unique docs score 1, mirrored docs drop, short docs absent") {
    val run = "victor whiskey xray yankee zulu alfa bravo charlie delta echo"
    val dir = writeDocs("novel", Seq(
      (0L, s"aa bb $run cc dd", "en", "s", 1L), // shares the run with 1
      (1L, s"ee ff $run gg hh", "en", "s", 1L),
      (2L, "fully unique content words nobody else repeats anywhere today", "en", "s", 1L),
      (3L, "tiny", "en", "s", 1L))) // < w+k-1 tokens: absent
    val got = TextAnalytics.winnowNovelty(spark, dir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    assert(got(2L)._4 == 1.0, "unshared doc must score full novelty")
    assert(got(0L)._4 < 1.0 && got(1L)._4 < 1.0,
      "docs sharing the run must lose novelty for the shared selections")
    got.values.foreach(r => assert(r._3 <= r._2 && r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("winnow source matrix attributes within- and cross-source passage sharing") {
    val run = "golf hotel india juliet kilo lima" // 6 = w+k-1 tokens
    val dir = writeDocs("wsrc", Seq(
      (0L, s"one two $run three four", "en", "crawlA", 1L),
      (1L, s"five six $run seven eight", "en", "crawlA", 1L), // within-A pair
      (2L, s"nine ten $run eleven twelve", "en", "crawlB", 1L), // cross A-B pairs
      (3L, "thirteen fourteen fifteen sixteen seventeen eighteen nineteen", "en", "crawlB", 1L)))
    val got = TextAnalytics.winnowSourceMatrix(spark, dir, minShared = 1)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // pairs: (0,1) within A; (0,2), (1,2) cross; doc 3 pairs with nobody
    assert(got == Map(("crawlA", "crawlA") -> 1L, ("crawlA", "crawlB") -> 2L),
      got.toString)
  }

  test("native winnow selection equals the aggregate-fold algebra array-for-array") {
    // r16: winnowFpArray runs on the compiled TextHashes.WinnowSelectExpr;
    // the chained-aggregate spelling stays as the independent reference.
    // Exact ARRAY equality (values AND first-occurrence order), on the sf
    // corpus plus the edge rows the tokenizer/fold contract pins: null
    // text, empty string, below-w gram counts, empty tokens from double
    // spaces, non-ASCII folds, and an all-equal-gram run (the deque's
    // leftmost-min sliding case)
    val k = TextAnalytics.WinnowK
    val w = TextAnalytics.WinnowW
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionAll(Seq(
        (910001L, null.asInstanceOf[String]),
        (910002L, ""),
        (910003L, "a b c"),
        (910004L, "a  b c  d e f g h i j"),
        (910005L, "héllo wörld naïve café tökens here more text padding okay"),
        (910006L, (1 to 30).map(_ => "same").mkString(" ")))
        .toDF("doc_id", "text"))
    val both = docs.select(col("doc_id"),
      TextAnalytics.winnowFpArray(col("text"), k, w).as("native"),
      TextAnalytics.winnowFpArrayAlgebra(col("text"), k, w).as("algebra"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, n, a) =>
      assert(n == a, s"doc $id: native $n != algebra $a")
    }
    assert(both.exists(_._2.nonEmpty), "vacuous compare: no doc produced fps")
  }

  test("winnow array form equals the batch window form per doc on the sf corpus") {
    val batch = TextAnalytics.winnowFingerprints(spark, sf)
      .select("doc_id", "fp").distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val arr = Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextAnalytics.winnowFpArray(col("text"),
          TextAnalytics.WinnowK, TextAnalytics.WinnowW).as("fps"))
      .as[(Long, Seq[Long])].collect()
      .map(r => r._1 -> r._2.toSet).toMap
    // batch omits fingerprint-less docs; the array form gives them []
    assert(batch.keySet.subsetOf(arr.keySet))
    arr.foreach { case (id, fps) =>
      assert(fps == batch.getOrElse(id, Set.empty[Long]), s"doc $id diverged")
    }
  }

  test("split leakage flags only train-holdout passage sharing") {
    // split buckets under the Knuth multiply: id 0,1,2 -> train,
    // id 3 -> val, id 13 -> test (computed from the shared formula).
    val run = "lorem ipsum dolor sit amet consectetur" // 6 tokens = w+k-1
    val dir = writeDocs("leak", Seq(
      (0L, s"intro words $run tail one", "en", "s", 1L), // train
      (3L, s"other prefix $run trailing bits", "en", "s", 1L), // val: LEAK vs 0
      (1L, s"alpha beta $run gamma delta", "en", "s", 1L), // train: no leak vs 0 (same split)
      (13L, "completely different vocabulary here today friends", "en", "s", 1L))) // test, disjoint
    val got = TextAnalytics.splitLeakage(spark, dir, minShared = 1)
      .as[(Long, Long, String, String, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet ==
      Set((0L, 3L, "train", "val"), (1L, 3L, "train", "val")),
      s"expected exactly the two train-val pairs: $got")
    // the train-train sharing pair (0,1) exists in winnowMatches but is
    // NOT leakage; assert the audit really is the filtered view
    val pairs = TextAnalytics.winnowMatches(spark, dir, minShared = 1)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(pairs.contains((0L, 1L)) && !got.exists(r => (r._1, r._2) == ((0L, 1L))))
  }

  test("charset profile catches mojibake, control bytes, and non-ASCII density") {
    // sf corpora are clean ASCII, so the oracle gate only proves the
    // all-zero case — this fixture proves each class actually fires.
    val dir = writeDocs("charset", Seq(
      (0L, "café au lait 42", "fr", "dirty", 15L), // é non-ASCII; 4 2 digits
      (1L, "badbell ��", "en", "dirty", 11L), // BEL control + 2 U+FFFD
      (2L, "plain ascii text", "en", "clean", 16L),
      (3L, null, "en", "clean", 0L))) // null text: zero chars, still counted
    val got = TextAnalytics.charsetProfile(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    // dirty: docs 2; chars 15+11=26; digits 2; spaces 3+1=4;
    //        nonascii é + 2×U+FFFD = 3; control BEL = 1;
    //        docs_nonascii 2 (é doc and FFFD doc); docs_mojibake 1;
    //        frac 3/26 = 0.115385 at 6 dp; BEL is ASCII, not nonascii
    assert(got == Seq(
      ("clean", 2L, 16L, 0L, 2L, 0L, 0L, 0L, 0L, 0.0),
      ("dirty", 2L, 26L, 2L, 4L, 3L, 1L, 2L, 1L, 0.115385)))
  }

  test("length profile: hand-computed integer-micro percentiles, single-doc corner") {
    // lengths [10,20,30,40,50] (n=5): p10 pos=0.4 → 10 + 0.4·10 = 14.0;
    // p50 pos=2 → 30 exactly; p90 pos=3.6 → 40 + 0.6·10 = 46.0;
    // mean = 30. All in exact micros. Single-doc source: every
    // percentile and the mean collapse to that one length.
    val dir = writeDocs("lenprof", Seq(
      (0L, "t", "en", "s1", 10L), (1L, "t", "en", "s1", 20L),
      (2L, "t", "en", "s1", 30L), (3L, "t", "en", "s1", 40L),
      (4L, "t", "en", "s1", 50L),
      (5L, "t", "en", "one", 7L)))
    val got = CorpusStats.lengthProfile(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("one", 1L, 7000000L, 7000000L, 7000000L, 7000000L),
      ("s1", 5L, 14000000L, 30000000L, 46000000L, 30000000L)), got.toString)
    // duplicate lengths collapse into one histogram bucket spanning
    // several order statistics: [5,5,5,9] → p50 pos=1.5 sits inside the
    // 5-run → 5.0; p90 pos=2.7 straddles 5→9 → 5 + 0.7·4 = 7.8
    val dir2 = writeDocs("lenprof2", Seq(
      (0L, "t", "en", "s", 5L), (1L, "t", "en", "s", 5L),
      (2L, "t", "en", "s", 5L), (3L, "t", "en", "s", 9L)))
    val got2 = CorpusStats.lengthProfile(spark, dir2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq(("s", 4L, 5000000L, 5000000L, 7800000L, 6000000L)),
      got2.toString)
  }

  test("quota sample: exact k per source, Scala-model agreement, short sources kept whole") {
    def key(id: Long): Long =
      (((id % 2147483648L) + 2147483648L) % 2147483648L) * 3266489917L % 1000000007L
    // source "big": 7 docs, quota 3 → the 3 smallest keys in key order;
    // source "tiny": 2 docs < quota → both kept, rk dense from 1
    val rows = (0L to 6L).map(i => (i, "t", "en", "big", 1L)) ++
      Seq((100L, "t", "en", "tiny", 1L), (101L, "t", "en", "tiny", 1L))
    val dir = writeDocs("quota", rows)
    val got = TextAnalytics.quotaSample(spark, dir, perSource = 3)
      .as[(String, Int, Long, Long)].collect().toSeq
    val expBig = (0L to 6L).map(i => (key(i), i)).sorted.take(3).zipWithIndex
      .map { case ((k, i), r) => ("big", r + 1, i, k) }
    val expTiny = Seq(100L, 101L).map(i => (key(i), i)).sorted.zipWithIndex
      .map { case ((k, i), r) => ("tiny", r + 1, i, k) }
    assert(got == expBig ++ expTiny, got.toString)
    // registered defaults on the sf corpus: per-source counts capped at
    // the quota, ranks dense from 1, and the run is repeatable verbatim
    val reg = TextAnalytics.quotaSample(spark, sf)
      .as[(String, Int, Long, Long)].collect().toSeq
    val bySrc = reg.groupBy(_._1)
    assert(bySrc.values.forall(g =>
      g.size <= TextAnalytics.DefaultQuota &&
        g.map(_._2).sorted == (1 to g.size)))
    val reg2 = TextAnalytics.quotaSample(spark, sf)
      .as[(String, Int, Long, Long)].collect().toSeq
    assert(reg == reg2)
  }
}
