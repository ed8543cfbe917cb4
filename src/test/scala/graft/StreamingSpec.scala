package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks
import graft.streaming.StreamingFeatures

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run an append-mode streaming DF to completion over pre-loaded data. */
  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      extra: Seq[Timestamp] = Nil): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("windowed union-pivot counts fire on window close with final values") {
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val views = MemoryStream[(String, Timestamp)](spark)
    val tagged = StreamingFeatures.tagged(
      clicks.toDF.toDF("uuid", "event_time"), views.toDF.toDF("uuid", "event_time"))
    val features = StreamingFeatures.windowedCounts(tagged, "20 minutes")

    clicks.addData(("u1", ts("2016-06-14 00:01:00")), ("u1", ts("2016-06-14 00:05:00")),
      ("u2", ts("2016-06-14 00:10:00")))
    views.addData(("u1", ts("2016-06-14 00:02:00")))
    // Advance watermark beyond 00:20 + 5s so the first window closes.
    clicks.addData(("u9", ts("2016-06-14 01:00:00")))
    views.addData(("u9", ts("2016-06-14 01:00:00")))

    val out = runToMemory(features, "feat20m")
      .filter($"window_end" === ts("2016-06-14 00:20:00"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(("u1", 2L, 1L), ("u2", 1L, 0L)))
  }

  test("streaming content dedup: first copy wins in-horizon, state evicts past it") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = StreamingFeatures.dedupDocsStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), horizon = "10 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("docdedup").start()
    docs.addData(
      (1L, ts("2016-06-14 00:00:00"), "alpha text"),
      (2L, ts("2016-06-14 00:00:10"), "beta text"))
    q.processAllAvailable()
    // same content re-delivered within the horizon: must NOT re-emit;
    // a genuinely new doc passes
    docs.addData(
      (3L, ts("2016-06-14 00:01:00"), "alpha text"),
      (4L, ts("2016-06-14 00:02:00"), "gamma text"))
    q.processAllAvailable()
    val inHorizon = spark.table("docdedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(inHorizon == Set(1L, 2L, 4L),
      s"dup doc 3 must drop inside the horizon, got $inHorizon")
    // jump the watermark far past the horizon: doc 1's digest state is
    // evicted, so the same content re-admits (the documented trade)
    docs.addData((5L, ts("2016-06-14 03:00:00"), "unrelated advance"))
    q.processAllAvailable()
    docs.addData((6L, ts("2016-06-14 03:00:30"), "alpha text"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("docdedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 4L, 5L, 6L),
      s"evicted content must re-admit after the horizon, got $all")
  }

  test("streaming curation gates quality, dedups in-horizon, labels splits") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val good = "the a of and to in is on for with more tokens here now ok"
    val curated = StreamingFeatures.curateDocsStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"))
    val q = curated.writeStream.outputMode("append").format("memory")
      .queryName("streamcur").start()
    docs.addData(
      (1L, ts("2016-06-14 00:00:00"), good),          // passes
      (2L, ts("2016-06-14 00:00:05"), "too short"),   // quality drop
      (3L, ts("2016-06-14 00:00:10"), good))          // dup of 1: drop
    q.processAllAvailable()
    q.stop()
    val out = spark.table("streamcur").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L), s"expected only doc 1 to survive, got $out")
    // split label identical to the batch operator's shared expression
    val expected = spark.range(1, 2).select(graft.operators.TextAnalytics
      .splitLabelExpr(col("id")).as("s")).head().getString(0)
    assert(out(1L) == expected)
  }

  test("streaming incremental dedup drops frozen-corpus content before the state store") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val frozen = "already ingested in snapshot n"
    val known = Seq(frozen).toDF("text").select(md5($"text").as("content_md5"))
    val gated = StreamingFeatures.dedupAgainstStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), known)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("streaminc").start()
    docs.addData(
      (1L, ts("2016-06-14 00:00:00"), frozen),        // corpus dup: drop
      (2L, ts("2016-06-14 00:00:05"), "fresh content"),
      (3L, ts("2016-06-14 00:00:10"), "fresh content")) // in-horizon dup of 2
    q.processAllAvailable()
    q.stop()
    val out = spark.table("streaminc").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L), s"expected only doc 2 to survive, got $out")
  }

  test("streaming near-dup gate drops a token permutation in-horizon") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.nearDupDocsStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"))
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("streamnd").start()
    docs.addData(
      (1L, ts("2016-06-14 00:00:00"), "alpha beta gamma delta"),
      // permutation: same token multiset -> same fingerprint -> drop
      (2L, ts("2016-06-14 00:00:05"), "delta gamma beta alpha"),
      (3L, ts("2016-06-14 00:00:10"), "wholly different words here"),
      // two null-text docs: content-less, must BOTH pass (a NULL
      // fingerprint state key would collapse them into one)
      (4L, ts("2016-06-14 00:00:15"), null),
      (5L, ts("2016-06-14 00:00:20"), null))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("streamnd").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 4L, 5L),
      s"permutation twin drops, null-text docs pass, got $out")
  }

  test("fused decontam gate equals the retained algebra spelling verdict-for-verdict") {
    // the r18 fuse (TextHashes.ShingleSetHits) vs the pre-fuse one-row
    // bench-set join + interpreted shingle transform + array_intersect
    // (decontamGateStreamAlgebra) — same survivors at every threshold,
    // on the edge shapes the byte-span identity must honor: null text,
    // empty text, sub-n docs, double/trailing spaces (empty tokens ARE
    // tokens), full containment, and a rounding-boundary fraction
    val bench = Seq("alpha beta gamma", "beta gamma delta",
      "gamma delta epsilon").toDF("shingle")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "wholly different words in this doc here"),
      (3L, null.asInstanceOf[String]),
      (4L, ""),
      (5L, "too short"),
      (6L, "alpha beta gamma"),
      (7L, "alpha  beta gamma delta"),
      (8L, "x alpha beta gamma delta epsilon"),
      (9L, "alpha beta gamma delta epsilon "),
      (10L, "the alpha beta gamma delta epsilon of the and to in")
    ).toDF("doc_id", "text")
    val redacted = docs.withColumn("text",
      graft.operators.Pii.redacted(col("text")))
    for (minFrac <- Seq(0.05, 0.1, 0.3333, 0.34, 1.1)) {
      val fused = Function.chain(StreamingFeatures
        .docsHygieneStages(bench, minFrac = minFrac).take(2).map(_._2))(docs)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      val algebra = StreamingFeatures
        .decontamGateStreamAlgebra(redacted, bench, minFrac = minFrac)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      assert(fused == algebra,
        s"minFrac=$minFrac: fused $fused != algebra $algebra")
    }
  }

  test("streaming full curation redacts PII, drops contaminated docs, dedups post-redaction") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    // benchmark = the shingles of "alpha beta gamma delta epsilon"
    val bench = Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")
      .toDF("shingle")
    val good = "the a of and to in is on for with more tokens here now"
    val curated = StreamingFeatures.curateDocsFullStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), bench)
    val q = curated.writeStream.outputMode("append").format("memory")
      .queryName("streamcurfull").start()
    docs.addData(
      (1L, ts("2016-06-14 00:00:00"), s"$good reach alice@example.com ok"),
      // same text as 1 after redaction (differs only in the email): dup
      (2L, ts("2016-06-14 00:00:05"), s"$good reach bob@test.org ok"),
      // passes quality (11 tokens, stopwords) but 3 of its 9 shingles sit
      // in the benchmark: frac 0.3333 >= 0.1 -> contaminated
      (3L, ts("2016-06-14 00:00:10"), "the alpha beta gamma delta epsilon of the and to in"),
      (4L, ts("2016-06-14 00:00:15"), "too short"))     // quality drop
    q.processAllAvailable()
    q.stop()
    val out = spark.table("streamcurfull").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L), s"expected only doc 1 to survive, got ${out.keySet}")
    // survivors carry the scrubbed text the batch operator digests
    assert(out(1L) == s"$good reach <EMAIL> ok")
  }

  test("streaming perplexity gate scores in lockstep with the batch operator") {
    import java.nio.file.Files
    // static corpus: even ids (the reference) speak signal; two noise
    // docs; one doc with a token the static corpus has never seen
    val texts = Seq(
      (0L, "signal alpha signal beta"), (1L, "signal alpha beta signal"),
      (2L, "signal beta alpha signal"), (3L, "noise gamma delta noise"),
      (4L, "signal alpha signal beta"), (5L, "noise delta gamma noise"))
    val dir = Files.createTempDirectory("pplgate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val batch = graft.operators.Perplexity
      .perplexityScores(spark, dir, nBuckets = 16, refModulus = 2)
      .select("doc_id", "avg_nlp_micros")
      .as[(Long, Long)].collect().toMap
    // threshold: tightest value that passes every signal speaker
    val threshold = Seq(0L, 1L, 2L, 4L).map(batch).max
    assert(Seq(3L, 5L).forall(batch(_) > threshold),
      s"fixture must separate signal from noise: $batch")

    val model = graft.operators.Perplexity
      .referenceNlp(spark, dir, nBuckets = 16, refModulus = 2)
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.perplexityGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), model,
      maxAvgNlpMicros = threshold, nBuckets = 16)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("pplgate").start()
    docs.addData(
      (10L, ts("2016-06-14 00:00:00"), "signal alpha signal beta"), // = batch doc 0
      (11L, ts("2016-06-14 00:00:01"), "noise gamma delta noise"),  // = batch doc 3
      // unseen token: sentinel smoothing mass pushes it past the gate
      (12L, ts("2016-06-14 00:00:02"), "quux quux quux quux"),
      (13L, ts("2016-06-14 00:00:03"), null))                       // null text drops
    q.processAllAvailable()
    q.stop()
    val out = spark.table("pplgate")
      .select("doc_id", "avg_nlp_micros")
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(10L), s"only the signal twin passes, got $out")
    // lockstep: the stream twin of batch doc 0 scores IDENTICALLY
    assert(out(10L) == batch(0L),
      s"stream score ${out(10L)} != batch score ${batch(0L)}")
  }

  test("streaming bigram perplexity gate scores in lockstep with the batch operator") {
    import java.nio.file.Files
    // ids ≡ 0 (mod 5) are the reference; doc 2 has the SAME token
    // multiset as the reference but an out-of-support word order
    val refText = "alpha alpha alpha beta beta beta"
    val texts = Seq(
      (0L, refText), (5L, refText),
      (1L, refText),                            // held-out, ref order
      (2L, "alpha beta alpha beta alpha beta")) // alien order
    val dir = Files.createTempDirectory("bigate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Perplexity
      .perplexityScoresBigram(spark, dir)
      .select("doc_id", "avg_nlp_micros").as[(Long, Long)].collect().toMap
    val threshold = batch(1L)
    assert(batch(2L) > threshold, s"fixture must separate orders: $batch")

    val model = graft.operators.Perplexity.referenceNlpBigram(spark, dir)
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.perplexityGateStreamBigram(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), model,
      maxAvgNlpMicros = threshold)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("bigate").start()
    docs.addData(
      (10L, ts("2016-06-14 00:00:00"), refText),                      // = batch doc 1
      (11L, ts("2016-06-14 00:00:01"), "alpha beta alpha beta alpha beta"),
      (12L, ts("2016-06-14 00:00:02"), "single"),                     // no bigrams
      (13L, ts("2016-06-14 00:00:03"), null))                         // null text
    q.processAllAvailable()
    q.stop()
    val out = spark.table("bigate").select("doc_id", "avg_nlp_micros")
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(10L), s"only the ref-order twin passes, got $out")
    assert(out(10L) == batch(1L),
      s"stream score ${out(10L)} != batch score ${batch(1L)}")
  }

  test("streaming dsir gate weighs in lockstep with the batch operator") {
    import java.nio.file.Files
    // modulus 5 → doc 0 is the target corpus; signal speakers are
    // target-like (positive weight), the alien vocabulary is not
    val texts = Seq(
      (0L, "signal alpha signal beta"), (1L, "signal alpha beta signal"),
      (2L, "signal beta alpha signal"), (3L, "noise gamma delta noise"),
      (4L, "signal alpha signal beta"))
    val dir = Files.createTempDirectory("dsirgate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val batch = graft.operators.Dsir
      .importanceWeights(spark, dir, nBuckets = 16)
      .select("doc_id", "weight_micros")
      .as[(Long, Long)].collect().toMap
    // threshold: tightest value passing every signal speaker
    val threshold = Seq(0L, 1L, 2L, 4L).map(batch).min
    assert(batch(3L) < threshold,
      s"fixture must separate target-like from alien: $batch")

    val model = graft.operators.Dsir.logRatios(spark, dir, nBuckets = 16)
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.dsirGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), model,
      minWeightMicros = threshold, nBuckets = 16)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("dsirgate").start()
    docs.addData(
      (10L, ts("2016-06-14 00:00:00"), "signal alpha signal beta"), // = batch doc 0
      (11L, ts("2016-06-14 00:00:01"), "noise gamma delta noise"),  // = batch doc 3
      (12L, ts("2016-06-14 00:00:02"), null))                       // null text drops
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dsirgate")
      .select("doc_id", "weight_micros")
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(10L), s"only the target-like twin passes, got $out")
    assert(out(10L) == batch(0L),
      s"stream weight ${out(10L)} != batch weight ${batch(0L)}")
  }

  test("streaming shard router assigns the same shard and order key as the batch operator") {
    import java.nio.file.Files
    val texts = (0L to 9L).map(id => (id, s"doc number $id body", "en", "s", 1L))
    val dir = Files.createTempDirectory("shardroute").toString
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Sharding.shardDocs(spark, dir, epoch = 3L)
      .select("doc_id", "shard", "order_key")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val routed = StreamingFeatures.shardRouteStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), epoch = 3L)
    val q = routed.writeStream.outputMode("append").format("memory")
      .queryName("shardroute").start()
    docs.addData(texts.map { case (id, t, _, _, _) =>
      (id, ts("2016-06-14 00:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("shardroute")
      .select("doc_id", "shard", "order_key")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stream == batch,
      s"stream routing must match batch sharding: $stream vs $batch")
  }

  test("streaming gopher gate keeps exactly the batch passers with identical metrics") {
    import java.nio.file.Files
    def toks(n: Int) = (1 to n).map(i => s"word$i").mkString(" ")
    val texts = Seq(
      (0L, toks(58) + " the a"),                       // passes all five
      (1L, toks(8) + " the a"),                        // word count fails
      (2L, toks(59) + " the"),                         // stopword rule fails
      (3L, toks(48) + " the a " + Seq.fill(10)("#").mkString(" ")), // symbols
      (4L, null.asInstanceOf[String]))
    val dir = Files.createTempDirectory("gophergate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.TextAnalytics.gopherRules(spark, dir)
      .filter(col("gopher_ok") === 1)
      .select("doc_id", "n_tokens", "mean_token_len", "n_stop_hits")
      .as[(Long, Int, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val docs = MemoryStream[(Long, String)](spark)
    val gated = StreamingFeatures.gopherGateStream(
      docs.toDF.toDF("doc_id", "text"))
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("gophergate").start()
    docs.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("gophergate")
      .select("doc_id", "n_tokens", "mean_token_len", "n_stop_hits")
      .as[(Long, Int, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream.keySet == Set(0L),
      s"only the all-rules passer may survive the gate: $stream")
  }

  test("streaming repetition gate keeps exactly the batch passers with identical metrics") {
    import java.nio.file.Files
    val texts = Seq(
      (0L, (1 to 60).map(i => s"word$i").mkString(" ")),   // passes
      (1L, "x y x y x y"),                                  // top-gram fails
      (2L, "solo"),                                         // too short: passes
      (3L, null.asInstanceOf[String]))                      // null: drops
    val dir = Files.createTempDirectory("repgatestream").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.TextAnalytics.repetitionGate(spark, dir)
      .filter(col("rep_ok") === 1)
      .select("doc_id", "top2_frac", "dup5_frac")
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val docs = MemoryStream[(Long, String)](spark)
    val gated = StreamingFeatures.repetitionGateStream(
      docs.toDF.toDF("doc_id", "text"))
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("repgate").start()
    docs.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("repgate")
      .select("doc_id", "top2_frac", "dup5_frac")
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream.keySet == Set(0L, 2L),
      s"the repetitive and null docs must drop: $stream")
  }

  test("streaming boilerplate scrub rewrites text in lockstep with batch passage dedup") {
    import java.nio.file.Files
    val boiler = (1 to 10).map(i => s"nav$i").mkString(" ")
    val texts = Seq(
      (0L, s"$boiler unique alpha tail words here"),
      (1L, s"$boiler other beta ending phrase now"),
      (2L, "entirely clean document"),
      (3L, null.asInstanceOf[String]))
    val dir = Files.createTempDirectory("boilgate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Dedup.passageDedup(spark, dir)
      .select("doc_id", "text_clean")
      .as[(Long, Option[String])].collect().toMap
    val census = graft.operators.Dedup.duplicatePassages(spark, dir)

    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.boilerplateGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), census)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("boilgate").start()
    docs.addData(texts.map { case (id, t) => (id, ts("2016-06-14 00:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("boilgate").select("doc_id", "text")
      .as[(Long, Option[String])].collect().toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream(0L) == Some("unique alpha tail words here"), stream.toString)
    assert(stream(3L) == None, stream.toString)
  }

  test("streaming span scrub rewrites text in lockstep with batch dup-span scrub") {
    import java.nio.file.Files
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val texts = Seq(
      (0L, s"intro $shared outro words"),  // shared 12-run mid-doc
      (1L, s"$shared closing"),            // same run at offset 0
      (2L, "entirely clean document here"),
      (3L, null.asInstanceOf[String]))
    val dir = Files.createTempDirectory("spangate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Dedup.dupSpanScrub(spark, dir)
      .select("doc_id", "text_clean")
      .as[(Long, Option[String])].collect().toMap
    val census = graft.operators.Dedup.duplicateNgramHashes(spark, dir)

    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.spanScrubGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), census)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("spangate").start()
    docs.addData(texts.map { case (id, t) => (id, ts("2016-06-14 00:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("spangate").select("doc_id", "text")
      .as[(Long, Option[String])].collect().toMap
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream(0L) == Some("intro outro words"), stream.toString)
    assert(stream(1L) == Some("closing"), stream.toString)
    assert(stream(2L) == Some("entirely clean document here"), stream.toString)
    assert(stream(3L) == None, stream.toString)
  }

  test("streaming bloom decontam gate drops in lockstep with the batch bloom flag") {
    import java.nio.file.Files
    val item = (1 to 12).map(i => s"w$i").mkString(" ")
    val texts = Seq(
      (0L, item),                       // the benchmark item itself: frac 1.0
      // 2 of 8 shingles hit the benchmark (0.25 >= 0.1): contaminated
      (1L, "w1 w2 w3 w4 fresh1 fresh2 fresh3 fresh4 fresh5 fresh6"),
      (2L, "totally clean unrelated document body here"),
      (3L, null.asInstanceOf[String])) // no shingles: 0.0, passes
    val dir = Files.createTempDirectory("bloomgate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bench = (1 to 10).map(i => s"w$i w${i + 1} w${i + 2}").toDF("shingle")
    val batch = graft.operators.Decontam
      .bloomContaminationAgainst(spark, dir, bench)
      .select("doc_id", "contaminated").as[(Long, Int)].collect().toMap

    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    // Caller columns that collide with the gate's OLD internal names:
    // the gate's temporaries are __bloom_-prefixed, so these must pass
    // through byte-identical (the gate once clobbered-and-dropped them).
    val gated = StreamingFeatures.bloomDecontamGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text")
        .withColumn("shingles", lit("caller-data"))
        .withColumn("overlap_frac", lit(9.9))
        .withColumn("jk", lit(42)), bench)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("bloomgate").start()
    docs.addData(texts.map { case (id, t) => (id, ts("2016-06-14 00:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("bloomgate").select("doc_id").as[Long].collect().toSet
    assert(kept == batch.filter(_._2 == 0).keySet,
      s"gate survivors must be exactly the batch-clean docs: $kept vs $batch")
    assert(batch(0L) == 1 && batch(1L) == 1 && batch(2L) == 0 && batch(3L) == 0,
      batch.toString)
    val passthrough = spark.table("bloomgate")
      .select("shingles", "overlap_frac", "jk")
      .as[(String, Double, Int)].collect().toSet
    assert(passthrough == Set(("caller-data", 9.9, 42)),
      s"caller columns colliding with internal names must survive: $passthrough")
  }

  test("streaming coverage gate annotates batch dup_frac and filters above the bound") {
    import java.nio.file.Files
    val shared = (1 to 11).map(i => s"s$i").mkString(" ")
    val texts = Seq(
      (0L, s"$shared"),                              // 2 windows, both dup → 1.0: drop
      (1L, s"$shared tail1 tail2 tail3 tail4"),      // dup head, clean tail
      (2L, "entirely different clean document text"),
      (3L, null.asInstanceOf[String]))               // scoreless → pass
    val dir = Files.createTempDirectory("covgate").toString
    texts.map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Dedup.dupNgramCoverage(spark, dir)
      .select("doc_id", "dup_frac")
      .as[(Long, Option[Double])].collect().toMap
    val census = graft.operators.Dedup.duplicateNgramHashes(spark, dir)

    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val gated = StreamingFeatures.dupCoverageGateStream(
      docs.toDF.toDF("doc_id", "ingest_time", "text"), census, maxFrac = 0.5)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("covgate").start()
    docs.addData(texts.map { case (id, t) => (id, ts("2016-06-14 00:00:00"), t) }: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("covgate").select("doc_id", "dup_frac")
      .as[(Long, Option[Double])].collect().toMap
    // survivors carry EXACTLY the batch fraction; doc 0 (frac 1.0) dropped
    assert(stream.keySet == Set(1L, 2L, 3L), stream.toString)
    stream.foreach { case (id, frac) =>
      assert(frac == batch(id), s"gate frac must equal batch dup_frac: $stream vs $batch")
    }
    assert(batch(0L).exists(_ > 0.5), batch.toString)
  }

  test("streaming semantic gate drops and passes in lockstep with the batch operator") {
    // frozen snapshot + batch arrivals: the CorpusOpsSpec incremental
    // fixture, fed through both forms — the survivor sets must agree
    val corpus = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    val arrivals = Seq(
      1L -> Seq(1f, 0f, 0f, 0f),   // exact twin of frozen 0: drop
      2L -> Seq(0f, 1f, 0f, 0f),   // orthogonal to everything: pass
      3L -> Seq(0f, 0f, -1f, 0f))  // anti-parallel to 4: cos -1, pass
    val batchKept = graft.operators.Similarity
      .semanticDedupAgainst(arrivals.toDF("vec_id", "embedding"), corpus,
        minCosine = 0.9, nBits = 2)
      .filter("dropped = 0").select("vec_id")
      .as[Long].collect().toSet

    val vecs = MemoryStream[(Long, Timestamp, Seq[Float])](spark)
    val gated = StreamingFeatures.semanticGateStream(
      vecs.toDF.toDF("vec_id", "ingest_time", "embedding"), corpus,
      minCosine = 0.9, nBits = 2)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("semgate").start()
    vecs.addData(arrivals.zipWithIndex.map { case ((id, e), i) =>
      (id, ts(s"2016-06-14 00:00:0$i"), e) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("semgate").select("vec_id")
      .as[Long].collect().toSet
    assert(streamKept == batchKept && batchKept == Set(2L, 3L),
      s"stream $streamKept vs batch $batchKept")
  }

  test("streaming feature enrichment serves the same row as the batch as-of join") {
    // batch truth: the registered point-in-time join on the sf corpus
    val sf = TestSpark.sf
    val batch = graft.operators.TemporalJoins.pointInTimeFeatures(spark, sf)
      .collect().map(_.toSeq).toSet
    // the "online store" content = the same snapshot frame the batch
    // join consumed, renamed to the serving contract
    val snaps = graft.operators.FeatureJobs
      .windowedFeatures(spark, sf, "5 minutes")
      .select($"user_id", $"window_end".as("feat_end"),
        $"clicks".as("feat_clicks"), $"views".as("feat_views"))
    val clickRows = graft.Tables.events(spark, sf)
      .filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"ts")
      .as[(Long, Long, Timestamp)].collect().toSeq
    val in = MemoryStream[(Long, Long, Timestamp)](spark)
    val gated = StreamingFeatures.featureEnrichStream(
      in.toDF.toDF("user_id", "event_id", "click_ts"), snaps)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("enrich").start()
    in.addData(clickRows: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("enrich").collect().map(_.toSeq).toSet
    assert(stream == batch, s"stream/batch diff: ${
      (stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    assert(stream.nonEmpty)
  }

  test("streaming forward as-of gate equals the batch conversion join on closed horizons") {
    val sf = TestSpark.sf
    val batch = graft.operators.TemporalJoins.timeToConversion(spark, sf)
      .collect().map(_.toSeq).toSet
    val evRows = graft.Tables.events(spark, sf)
      .filter($"event_type".isin("view", "click") && $"user_id".isNotNull)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[(Long, Long, Timestamp, String)].collect().toSeq
    val in = MemoryStream[(Long, Long, Timestamp, String)](spark)
    val gate = StreamingFeatures.conversionStream(
      in.toDF.toDF("user_id", "event_id", "ts", "event_type"))
    val q = gate.toDF.toDF("user_id", "event_id", "view_ts",
        "click_ts", "click_event_id", "to_click_sec")
      .writeStream.outputMode("append").format("memory").queryName("conv").start()
    in.addData(evRows: _*)
    q.processAllAvailable()
    // two far-future sentinels: the first advances the watermark past
    // every real horizon, the second runs a batch under that watermark
    // so the event-time timers fire and flush the remaining state
    val maxTs = evRows.map(_._3.getTime).max
    in.addData((999999L, 999999L, new Timestamp(maxTs + 10L * 3600 * 1000), "view"))
    q.processAllAvailable()
    in.addData((999999L, 999998L, new Timestamp(maxTs + 20L * 3600 * 1000), "view"))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("conv").filter($"user_id" =!= 999999L)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch, s"stream/batch diff: ${
      (stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
  }

  test("rows later than the 5s watermark are dropped from closed windows") {
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val views = MemoryStream[(String, Timestamp)](spark)
    val features = StreamingFeatures.windowedCounts(
      StreamingFeatures.tagged(clicks.toDF.toDF("uuid", "event_time"),
        views.toDF.toDF("uuid", "event_time")), "20 minutes")

    val q = features.writeStream.outputMode("append").format("memory")
      .queryName("late").start()
    clicks.addData(("u1", ts("2016-06-14 00:01:00")))
    q.processAllAvailable()
    clicks.addData(("u9", ts("2016-06-14 02:00:00"))) // watermark → ~02:00
    q.processAllAvailable()
    clicks.addData(("u1", ts("2016-06-14 00:02:00"))) // late, behind watermark
    q.processAllAvailable()
    clicks.addData(("u9", ts("2016-06-14 09:00:00"))) // close all windows
    q.processAllAvailable()
    q.stop()

    val u1 = spark.table("late").filter($"uuid" === "u1").collect()
    assert(u1.map(_.getLong(2)).sum == 1L, "late click must not be counted")
  }

  test("streaming active-user distinct counts are exact within watermark") {
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val views = MemoryStream[(String, Timestamp)](spark)
    val active = StreamingFeatures.activeUsers(
      StreamingFeatures.tagged(clicks.toDF.toDF("uuid", "event_time"),
        views.toDF.toDF("uuid", "event_time")))
    clicks.addData(("u1", ts("2016-06-14 00:01:00")), ("u1", ts("2016-06-14 00:02:00")),
      ("u2", ts("2016-06-14 00:03:00")))
    views.addData(("u1", ts("2016-06-14 00:04:00")), ("u3", ts("2016-06-14 00:04:30")))
    clicks.addData(("zz", ts("2016-06-14 03:00:00")))
    views.addData(("zz", ts("2016-06-14 03:00:00")))
    val out = runToMemory(active, "active5m")
      .filter($"window_end" === ts("2016-06-14 00:05:00")).collect()
    assert(out.length == 1 && out(0).getLong(1) == 3L) // u1,u2,u3 once each
  }

  test("session_window splits on 30-minute idle gaps") {
    val ev = MemoryStream[(String, Timestamp)](spark)
    val sessions = StreamingFeatures.sessionized(ev.toDF.toDF("uuid", "event_time"))
    ev.addData(("u1", ts("2016-06-14 00:00:00")), ("u1", ts("2016-06-14 00:10:00")),
      ("u1", ts("2016-06-14 01:00:00"))) // 50-min gap → new session
    ev.addData(("zz", ts("2016-06-14 12:00:00")))
    val out = runToMemory(sessions, "sess").filter($"uuid" === "u1").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L))
  }

  test("KV sink upserts redis-shaped rows partition-parallel") {
    Sinks.InMemoryKV.clear()
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val views = MemoryStream[(String, Timestamp)](spark)
    TestSpark.withFeatureTable("kvsink") { url =>
      val q = StreamingFeatures.featurePipeline(
        StreamingFeatures.tagged(clicks.toDF.toDF("uuid", "event_time"),
          views.toDF.toDF("uuid", "event_time")), url, TestSpark.FeatureTable, Sinks.InMemoryKV)
        .option("checkpointLocation", java.nio.file.Files.createTempDirectory("kvck").toString)
        .start()
      clicks.addData(("u1", ts("2016-06-14 00:01:00")))
      views.addData(("u1", ts("2016-06-14 00:02:00")), ("u1", ts("2016-06-14 00:03:00")))
      clicks.addData(("zz", ts("2016-06-14 05:00:00")))
      views.addData(("zz", ts("2016-06-14 05:00:00")))
      q.processAllAvailable()
      q.stop()
    }
    val hash = Sinks.InMemoryKV.data.get("feat:user:{u1}:201606140020")
    assert(hash.contains(Map("click20m" -> "1", "view20m" -> "2")))
  }

  test("streaming session_window equals the batch lag/cumsum sessionization") {
    // Same 30-min-idle semantics, two implementations: session_window
    // (streaming) vs the lag+running-sum window chain (batch). Compare on
    // (user, session_start, n_events) — session_window's `end` is
    // last_event + gap by definition, the batch twin's is max(ts).
    val ev = MemoryStream[(String, Timestamp)](spark)
    val sessions = StreamingFeatures.sessionized(ev.toDF.toDF("uuid", "event_time"))
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessEq").start()
    val rows = Tables.events(spark, TestSpark.sf)
      .select(col("user_id").cast("string"), col("ts"))
      .orderBy("ts").as[(String, Timestamp)].collect()
    rows.grouped(300).foreach { chunk => ev.addData(chunk.toSeq); q.processAllAvailable() }
    ev.addData(("zz", ts("2030-01-01 00:00:00")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessEq").filter($"uuid" =!= "zz")
      .select($"uuid", $"session_start", $"n_events")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = graft.operators.EventAnalytics.sessions(spark, TestSpark.sf)
      .select(col("user_id").cast("string"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed == batch)

    // the registered session_window batch face (q_sessions_stream, r16)
    // reproduces the stream's FULL schema — session_end (= last event +
    // gap, the window close) included — row for row on the same corpus:
    // the oracle-checked face of this lockstep
    val streamedFull = spark.table("sessEq").filter($"uuid" =!= "zz")
      .select($"uuid", $"session_start", $"session_end", $"n_events")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val windowedBatch = graft.operators.EventAnalytics
      .sessionsWindowed(spark, TestSpark.sf)
      .select(col("user_id").cast("string"), col("session_start"),
        col("session_end"), col("n_events"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamedFull == windowedBatch,
      "session_window batch face diverged from the streaming sessions")
  }

  test("streaming windowed counts equal the batch feature job on replayed data") {
    // the reference pipeline, stopped halfway and restarted from its
    // checkpoint, against the registered batch queries: the features table
    // holds q_features_20m in window_key form, the KV store holds
    // q_redis_feature_keys as hashes
    val rows = Tables.events(spark, TestSpark.sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id").cast("string"), col("ts"), col("event_type"))
      .orderBy("ts").as[(String, Timestamp, String)].collect()
    val stream = MemoryStream[(String, Timestamp, String)](spark)
    val sdf = stream.toDF.toDF("uuid", "event_time", "event_type")
    val tagged = StreamingFeatures.tagged(
      sdf.filter($"event_type" === "click"), sdf.filter($"event_type" === "view"))
    val ckpt = java.nio.file.Files.createTempDirectory("replay20m").toString
    // Push watermark far past the last event so every window closes.
    val sentinel = ("zz", ts("2030-01-01 00:00:00"), "click")
    val chunks = rows.grouped(200).toSeq
    val (first, rest) = chunks.splitAt(chunks.size / 2)
    Sinks.InMemoryKV.clear()
    val derby = TestSpark.withFeatureTable("replay20m") { url =>
      Seq(first, rest :+ Array(sentinel)).foreach { part =>
        val q = StreamingFeatures.featurePipeline(tagged, url, TestSpark.FeatureTable,
          Sinks.InMemoryKV).option("checkpointLocation", ckpt).start()
        try part.foreach { chunk => stream.addData(chunk.toSeq); q.processAllAvailable() }
        finally q.stop()
      }
      TestSpark.featureTableRows(url)
    }

    val batch = SparkEntry.queries("q_features_20m")(spark, TestSpark.sf)
      .select(col("user_id").cast("string"),
        date_format(col("window_end"), "yyyyMMddHHmm"), col("clicks"), col("views"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty && derby == batch,
      s"derby ${derby.size} rows vs ${batch.size}: ${(derby diff batch).take(3)}")
    val keys = SparkEntry.queries("q_redis_feature_keys")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> Map("click20m" -> r.getString(1), "view20m" -> r.getString(2)))
      .toMap
    assert(Sinks.InMemoryKV.data.toMap == keys)
  }

  test("streaming winnow gate drops frozen-passage sharers, passes novel and short docs") {
    import java.nio.file.Files
    val run = "alpha bravo charlie delta echo foxtrot" // 6 = w+k-1 tokens
    val frozenDir = Files.createTempDirectory("wgate").toString
    Seq((100L, s"lead in $run and out words", "en", "src1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$frozenDir/documents.parquet")
    val frozen = graft.operators.TextAnalytics.winnowFingerprints(spark, frozenDir)

    val docs = MemoryStream[(Long, String)](spark)
    val gated = StreamingFeatures.winnowGateStream(
      docs.toDF.toDF("doc_id", "text"), frozen, minShared = 1)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("wgate").start()
    docs.addData(
      (0L, s"totally different framing $run closing remark"), // shares the run: DROP
      (1L, "seven independent words with no overlap at all"), // novel: PASS
      (2L, "too short"), // sub-threshold: no fps, PASS
      (3L, null.asInstanceOf[String])) // null text: PASS (content-neutral)
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("wgate").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"gate verdicts wrong: kept $kept")
  }

  test("streaming bpe budget gate: counts lockstep with the batch type join, budget drops, null passes") {
    import java.nio.file.Files
    // learn a frozen merge table on a small corpus, then stream the
    // SAME docs through the gate: per-doc n_bpe_tokens must equal the
    // batch type-join count exactly (re-segmentation ≡ type lookup)
    val dir = Files.createTempDirectory("bpegate").toString
    Seq(
      (0L, "low low low low low", "en", "s", 1L),
      (1L, "lower lower lower", "en", "s", 1L),
      (2L, "newest newest newest newest", "en", "s", 1L),
      (3L, "widest widest", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = graft.operators.Bpe.mergePairs(spark, dir, nMerges = 4)
    assert(merges.length == 4)
    val batch = graft.operators.Bpe.bpeTokenCounts(spark, dir, nMerges = 4)
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap

    val docs = MemoryStream[(Long, String)](spark)
    val gated = StreamingFeatures.bpeBudgetGateStream(
      docs.toDF.toDF("doc_id", "text"), merges, maxTokens = Long.MaxValue)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("bpegate").start()
    docs.addData(
      (0L, "low low low low low"),
      (1L, "lower lower lower"),
      (2L, "newest newest newest newest"),
      (3L, "widest widest"),
      (9L, null.asInstanceOf[String])) // null text: 0, PASS
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bpegate")
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    assert(streamed.filterNot(_._1 == 9L) == batch,
      s"stream re-segmentation must equal the batch type join: $streamed vs $batch")
    assert(streamed(9L) == 0L)

    // budget verdicts: the tightest budget that keeps the shortest doc
    val budget = batch.values.min
    val docs2 = MemoryStream[(Long, String)](spark)
    val gated2 = StreamingFeatures.bpeBudgetGateStream(
      docs2.toDF.toDF("doc_id", "text"), merges, maxTokens = budget)
    val q2 = gated2.writeStream.outputMode("append").format("memory")
      .queryName("bpegate2").start()
    docs2.addData(
      (0L, "low low low low low"), (3L, "widest widest"),
      (9L, null.asInstanceOf[String]))
    q2.processAllAvailable()
    q2.stop()
    val kept2 = spark.table("bpegate2").select("doc_id").as[Long].collect().toSet
    val expectKept = Set(9L) ++ batch.filter(_._2 <= budget).keySet
      .intersect(Set(0L, 3L))
    assert(kept2 == expectKept, s"budget verdicts: kept $kept2, expected $expectKept")
  }

  test("streaming bloom winnow gate: exact drop-set ⊆ bloom drop-set, fixture verdicts identical") {
    import java.nio.file.Files
    // Part 1 — the exact-gate fixture through the Bloom form: same
    // verdicts (at 2²⁰ bits / k=7 over a handful of fps, a probe false
    // positive is ~impossible, so the gates must agree exactly here).
    val run = "alpha bravo charlie delta echo foxtrot"
    val frozenDir = Files.createTempDirectory("wbloomgate").toString
    Seq((100L, s"lead in $run and out words", "en", "src1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$frozenDir/documents.parquet")
    val frozen = graft.operators.TextAnalytics.winnowFingerprints(spark, frozenDir)

    val docs = MemoryStream[(Long, String)](spark)
    val gated = StreamingFeatures.winnowGateStreamBloom(
      docs.toDF.toDF("doc_id", "text"), frozen, minShared = 1)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("wbloomgate").start()
    docs.addData(
      (0L, s"totally different framing $run closing remark"), // sharer: DROP
      (1L, "seven independent words with no overlap at all"), // novel: PASS
      (2L, "too short"), // sub-threshold: no fps, PASS
      (3L, null.asInstanceOf[String])) // null text: PASS (content-neutral)
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("wbloomgate").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"bloom gate verdicts wrong: kept $kept")

    // Part 2 — one-sided error on a real corpus split: frozen = even
    // doc_ids of sf0.001, arrivals = odd. Every doc the exact census
    // gate drops must drop in the Bloom gate too (FNs are impossible by
    // construction — each frozen fp sets exactly the bits its probe
    // reads), so bloom-kept ⊆ exact-kept ALWAYS; at this sizing the FP
    // direction is quiescent too and the sets must be equal.
    val corpusDir = Files.createTempDirectory("wbloomcorpus").toString
    Tables.documents(spark, TestSpark.sf).filter("doc_id % 2 = 0")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val frozenHalf = graft.operators.TextAnalytics
      .winnowFingerprints(spark, corpusDir)
      .select("fp").distinct().localCheckpoint() // two gates read it
    val arrivals = Tables.documents(spark, TestSpark.sf)
      .filter("doc_id % 2 = 1")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq

    def runGate(name: String,
        gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[Long] = {
      val s = MemoryStream[(Long, String)](spark)
      val gq = gate(s.toDF.toDF("doc_id", "text"))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      s.addData(arrivals: _*)
      gq.processAllAvailable()
      gq.stop()
      spark.table(name).select("doc_id").as[Long].collect().toSet
    }
    val exactKept = runGate("wgx",
      d => StreamingFeatures.winnowGateStream(d, frozenHalf))
    val bloomKept = runGate("wgb",
      d => StreamingFeatures.winnowGateStreamBloom(d, frozenHalf))
    assert(bloomKept.subsetOf(exactKept),
      s"bloom gate admitted a doc the exact gate drops (impossible FN): " +
        s"${bloomKept -- exactKept}")
    assert(bloomKept == exactKept,
      s"unexpected bloom FP drops at the registered sizing: ${exactKept -- bloomKept}")
    assert(exactKept.nonEmpty && exactKept.size < arrivals.size,
      s"split fixture must both drop and keep: kept ${exactKept.size}/${arrivals.size}")
  }

  test("streaming HLL registers equal the batch registers bit-for-bit, with redelivery") {
    val events = MemoryStream[(Long, Timestamp)](spark)
    val out = StreamingFeatures.hllUserStream(
      events.toDF.toDF("user_id", "event_time"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("hllwin").start()
    val users = (0L until 40L) ++ (0L until 40L by 2) // dups in-batch
    events.addData(users.map(u => (u, ts("2016-06-14 00:01:00"))))
    q.processAllAvailable()
    // redelivery in a LATER micro-batch: max-merge must not move
    events.addData((5L, ts("2016-06-14 00:02:00")),
      (7L, ts("2016-06-14 00:03:00")))
    q.processAllAvailable()
    events.addData((999L, ts("2016-06-14 01:00:00"))) // close the window
    q.processAllAvailable()
    q.stop()

    val stream = spark.table("hllwin")
      .filter($"window_end" === ts("2016-06-14 00:05:00")).collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap
    val batch = graft.operators.Sketches.hllRegisters(
      (0L until 40L).toDF("id").select(lit("g").as("g"), $"id"))
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(stream == batch,
      s"stream registers diverged from batch: $stream vs $batch")
  }

  test("streaming CMS cells equal the batch cell table regardless of micro-batch splits") {
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val out = StreamingFeatures.cmsTokenStream(
      docs.toDF.toDF("doc_id", "event_time", "text"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("cmswin").start()
    // same token multiset, deliberately split across three micro-batches
    docs.addData((0L, ts("2016-06-14 00:01:00"), "alpha bravo charlie alpha"))
    q.processAllAvailable()
    docs.addData((1L, ts("2016-06-14 00:02:00"), "delta echo alpha bravo"))
    q.processAllAvailable()
    docs.addData((2L, ts("2016-06-14 00:03:00"), "foxtrot bravo"))
    q.processAllAvailable()
    docs.addData((9L, ts("2016-06-14 01:00:00"), "closer")) // close the window
    q.processAllAvailable()
    q.stop()

    val stream = spark.table("cmswin")
      .filter($"window_end" === ts("2016-06-14 00:05:00")).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val batch = graft.operators.Sketches.cmsTableFrom(
      "alpha bravo charlie alpha delta echo alpha bravo foxtrot bravo"
        .split(" ").toSeq.toDF("tok"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(stream == batch,
      s"stream cells diverged from batch: $stream vs $batch")
  }

  test("streaming heavy-hitter window honors the MG guarantee against exact batch counts") {
    // Window 00:00–00:05, m = 3, vocabulary 6 > m (cancellation fires):
    // "hot" 12×, "warm" 6×, four singletons → N = 22, threshold
    // N/(m+1) = 5.5: {hot, warm} MUST survive; budget ≤ 3.
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val out = StreamingFeatures.heavyHitterStream(
      docs.toDF.toDF("doc_id", "event_time", "text"), m = 3)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("hhwin").start()
    docs.addData(
      (0L, ts("2016-06-14 00:01:00"), "hot hot hot hot warm warm rare1"),
      (1L, ts("2016-06-14 00:02:00"), "hot hot hot hot warm warm rare2"),
      (2L, ts("2016-06-14 00:03:00"), "hot hot hot hot warm warm rare3 rare4"))
    q.processAllAvailable()
    docs.addData((9L, ts("2016-06-14 01:00:00"), "closer")) // close the window
    q.processAllAvailable()
    q.stop()

    val win = spark.table("hhwin")
      .filter($"window_end" === ts("2016-06-14 00:05:00")).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(win.size <= 3, s"budget exceeded: $win")
    assert(win.contains("hot") && win.contains("warm"),
      s"true heavy hitters missing from the closed window: $win")
    assert(win("hot") <= 12L && win("warm") <= 6L, s"lower_bound overshot: $win")
  }

  test("artifact-driven admission pipeline: export, load, gate a stream, lockstep with batch") {
    import java.nio.file.Files
    val sf = TestSpark.sf
    val artDir = Files.createTempDirectory("admission").toString
    graft.operators.Artifacts.exportAll(spark, sf, artDir)

    // a benchmark-member doc (doc_id % 20 == 0, long enough to shingle):
    // its verbatim copy must drop at the Bloom decontam stage; a doc of
    // novel tokens (plus a stopword for the quality gate) must clear
    // all six gates at permissive scoring thresholds
    val benchText = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 === 0 && col("text").isNotNull
        && length(col("text")) > 100)
      .orderBy("doc_id").select("text").as[String].head()
    val novel = "the zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 zq11 zq12"
    def gate(in: org.apache.spark.sql.DataFrame) =
      StreamingFeatures.admissionGateStream(in, spark, artDir,
        maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
        maxTokens = 1000000L)

    val rows = Seq(
      (900L, benchText),                 // benchmark copy: decontam DROP
      (901L, novel),                     // novel + stopword: PASS
      (902L, "short"),                   // quality DROP (< 10 tokens)
      (903L, null.asInstanceOf[String])) // quality DROP (null text)
    val docs = MemoryStream[(Long, String)](spark)
    val q = gate(docs.toDF.toDF("doc_id", "text")).writeStream
      .outputMode("append").format("memory").queryName("admission").start()
    docs.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("admission")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == Set(901L), s"admission verdicts wrong: $streamed")

    // every stage is stateless, so the same composition over a batch
    // frame of the same rows must return the identical survivor set
    val batch = gate(rows.toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(batch == streamed, s"stream/batch divergence: $batch vs $streamed")

    // tightening one policy knob (token budget -> 0) drops every
    // surviving tokenized doc — the thresholds are live, not decorative
    val none = StreamingFeatures.admissionGateStream(
      rows.toDF("doc_id", "text"), spark, artDir,
      maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
      maxTokens = 0L).select("doc_id").as[Long].collect().toSet
    assert(none.isEmpty, s"zero budget must drop all: $none")
  }

  test("admission pipeline restart: checkpointed query resumes with no duplicate or lost admissions; artifacts reload under the same stamps") {
    // T5/T8 semantics for the composed pipeline (r14 verdict ask #5):
    // run the gate through a CHECKPOINTED query into a file sink
    // (exactly-once via the sink's metadata log), kill it between
    // batches, rebuild the whole gate — every frozen model reloads
    // through its stamped loader — restart on the same checkpoint, and
    // assert batch A is neither reprocessed (no duplicate admissions)
    // nor batch B lost, with the final admitted set equal to the
    // stateless batch face over A ∪ B.
    import java.nio.file.Files
    val sf = TestSpark.sf
    val artDir = Files.createTempDirectory("admrestart_art").toString
    graft.operators.Artifacts.exportAll(spark, sf, artDir)
    def gate(in: org.apache.spark.sql.DataFrame) =
      StreamingFeatures.admissionGateStream(in, spark, artDir,
        maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
        maxTokens = 1000000L)
    val novelA = "the za1 za2 za3 za4 za5 za6 za7 za8 za9 za10 za11 za12"
    val novelB = "the zb1 zb2 zb3 zb4 zb5 zb6 zb7 zb8 zb9 zb10 zb11 zb12"
    val batchA = Seq((901L, novelA), (902L, "short"))
    val batchB = Seq((910L, novelB), (911L, null.asInstanceOf[String]))

    val ckpt = Files.createTempDirectory("admrestart_ck").toString
    val outDir = Files.createTempDirectory("admrestart_out").toString
    val src = MemoryStream[(Long, String)](spark)
    val q1 = gate(src.toDF.toDF("doc_id", "text")).writeStream
      .outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    src.addData(batchA: _*)
    q1.processAllAvailable()
    q1.stop() // the kill — batch A's offsets are committed in ckpt

    src.addData(batchB: _*)
    val q2 = gate(src.toDF.toDF("doc_id", "text")).writeStream
      .outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    val emitted = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSeq
    assert(emitted.size == emitted.distinct.size,
      s"restart duplicated admissions: $emitted")
    val batchFace = gate((batchA ++ batchB).toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(emitted.toSet == batchFace,
      s"restart lost/invented admissions: ${emitted.toSet} vs batch $batchFace")
    assert(emitted.toSet == Set(901L, 910L), s"unexpected verdicts: $emitted")
  }

  test("admission artifact refresh: rebuilt bloom shifts only its own stage's verdicts; a stale stamp refuses") {
    // the untested half of train-once/serve-many (r14 verdict ask #6):
    // refresh ONE artifact (the benchmark Bloom after a benchmark
    // change) and show the serving path picks it up with only
    // decontam-downstream verdicts moving — upstream stage verdicts
    // are byte-identical — while a model stamped by an older hash
    // family refuses to serve at all.
    import java.nio.file.Files
    import graft.operators.{Artifacts, Decontam}
    val sf = TestSpark.sf
    val artDir = Files.createTempDirectory("admrefresh").toString
    Artifacts.exportAll(spark, sf, artDir)
    val novel = "the zr1 zr2 zr3 zr4 zr5 zr6 zr7 zr8 zr9 zr10 zr11 zr12"
    val rows = Seq((901L, novel), (902L, "short"))
    def gate(prefix: Int) = Function.chain(StreamingFeatures.admissionStages(
      spark, artDir,
      maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
      maxTokens = 1000000L).take(prefix).map(_._2))(rows.toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(gate(6) == Set(901L), "novel doc must pass the pre-refresh gate")
    val qualityBefore = gate(1)

    // benchmark refresh: the novel doc's shingles enter the benchmark;
    // rebuild ONLY the bloom artifact (the nightly-refresh shape — no
    // other model retrains)
    val digests = Seq(novel).toDF("text")
      .select(explode(graft.operators.Dedup.shingleArray(
        col("text"), Decontam.DefaultN)).as("shingle"))
      .select(graft.functions.TextHashes.fingerprint62(col("shingle")).as("gh"))
      .distinct()
    Artifacts.saveBloom(
      Decontam.bloomFrom(digests, Decontam.DefaultBloomBits, Decontam.DefaultBloomK),
      s"$artDir/bloom", Decontam.DefaultBloomBits, Decontam.DefaultBloomK)

    assert(gate(6).isEmpty,
      "refreshed benchmark must drop the now-contaminated doc")
    assert(gate(1) == qualityBefore,
      "a bloom refresh must not move verdicts upstream of its stage")

    // stale path: the same filter stamped by an older hash family must
    // REFUSE to serve (silent false negatives are the failure mode)
    val staleRoot = Files.createTempDirectory("admstale").toString
    spark.read.parquet(s"$artDir/bloom")
      .withColumn("hash_family_version",
        lit(graft.functions.TextHashes.HashFamilyVersion - 1))
      .write.mode("overwrite").parquet(s"$staleRoot/bloom")
    val e = intercept[IllegalStateException] {
      StreamingFeatures.admissionGateStream(
        rows.toDF("doc_id", "text"), spark, staleRoot,
        maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
        maxTokens = 1000000L)
    }
    assert(e.getMessage.contains("hash family"), e.getMessage)
  }

  test("admission prefix: the quality-only prefix serves past a stale bloom artifact; the full list refuses") {
    // a prefix must never load a later stage's model: only the bloom
    // artifact exists here, stamped by an older hash family
    import java.nio.file.Files
    import graft.operators.{Artifacts, Decontam}
    val fresh = Files.createTempDirectory("admprefix_fresh").toString
    Artifacts.saveBloom(
      Decontam.bloomFrom(Seq(1L, 2L, 3L).toDF("gh"), Decontam.DefaultBloomBits,
        Decontam.DefaultBloomK),
      s"$fresh/bloom", Decontam.DefaultBloomBits, Decontam.DefaultBloomK)
    val staleRoot = Files.createTempDirectory("admprefix_stale").toString
    spark.read.parquet(s"$fresh/bloom")
      .withColumn("hash_family_version",
        lit(graft.functions.TextHashes.HashFamilyVersion - 1))
      .write.mode("overwrite").parquet(s"$staleRoot/bloom")
    val novel = "the zp1 zp2 zp3 zp4 zp5 zp6 zp7 zp8 zp9 zp10 zp11 zp12"
    val rows = Seq((901L, novel), (902L, "short")).toDF("doc_id", "text")
    val stages = StreamingFeatures.admissionStages(spark, staleRoot,
      maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
      maxTokens = 1000000L)
    assert(stages.head._1 == "quality")
    val served = Function.chain(stages.take(1).map(_._2))(rows)
      .select("doc_id").as[Long].collect().toSet
    assert(served == Set(901L), s"quality-only prefix verdicts wrong: $served")
    val e = intercept[IllegalStateException] {
      Function.chain(stages.map(_._2))(rows)
    }
    assert(e.getMessage.contains("hash family"), e.getMessage)
  }

  test("fused winnow/quality gates equal their algebra spellings verdict-for-verdict") {
    // r17: the admission composite's two largest remaining marginals
    // (winnow census probe ~0.08 ms/row, quality stopword filter ~0.07)
    // fused into native expressions — equality pinned against the
    // retained join/HOF spellings over the sf corpus plus the edge
    // fixtures (null text, empty, all-spaces, exact ratio boundary).
    val sf = TestSpark.sf
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val edge = Seq(
      (900001L, null.asInstanceOf[String]), (900002L, ""), (900003L, "   "),
      // exactly 100 tokens, exactly one stopword → ratio exactly 0.01
      (900004L, ("the" +: (1 to 99).map(i => s"w$i")).mkString(" ")),
      // 101 tokens, one stopword → 0.0099 < 0.01
      (900005L, ("the" +: (1 to 100).map(i => s"w$i")).mkString(" ")),
      // 10 tokens (the minTokens boundary) with a stopword
      (900006L, "the b c d e f g h i j"),
      (900007L, "the b c d e f g h i")) // 9 tokens — under minTokens
      .toDF("doc_id", "text")
    val docs = corpus.unionAll(edge)

    // quality: both spellings computed side by side, zero diffs
    val qDiff = docs.select(
        graft.operators.TextAnalytics.qualityOk(col("text")).as("fused"),
        graft.operators.TextAnalytics.qualityOkAlgebra(col("text")).as("alg"))
      .filter(col("fused") =!= col("alg")).count()
    assert(qDiff == 0, s"fused quality gate diverged on $qDiff rows")
    val edgeQ = edge.select(col("doc_id"),
        graft.operators.TextAnalytics.qualityOk(col("text")).as("q"))
      .as[(Long, Int)].collect().toMap
    assert(edgeQ == Map(900001L -> 0, 900002L -> 0, 900003L -> 0,
      900004L -> 1, 900005L -> 0, 900006L -> 1, 900007L -> 0),
      s"quality boundary verdicts: $edgeQ")

    // winnow census + bloom gates: census from a PREFIX of the corpus
    // so verdicts split (prefix docs drop, unrelated docs pass)
    val census = graft.operators.TextAnalytics.winnowFpsOf(
        corpus.orderBy("doc_id").limit(500),
        graft.operators.TextAnalytics.WinnowK,
        graft.operators.TextAnalytics.WinnowW)
      .select("fp").localCheckpoint()
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val fusedKept = kept(StreamingFeatures.winnowGateStream(docs, census))
    val joinKept = kept(StreamingFeatures.winnowGateStreamJoin(docs, census))
    assert(fusedKept == joinKept,
      s"fused census gate diverged: ${(fusedKept -- joinKept) ++ (joinKept -- fusedKept)}")
    assert(fusedKept.contains(900001L), "null text must pass (content-neutral)")
    assert(fusedKept.nonEmpty && kept(docs).size > fusedKept.size,
      "census gate fixture must both keep and drop")
    val fusedBloom = kept(StreamingFeatures.winnowGateStreamBloom(docs, census))
    val algBloom = kept(StreamingFeatures.winnowGateStreamBloomAlgebra(docs, census))
    assert(fusedBloom == algBloom,
      s"fused bloom gate diverged: ${(fusedBloom -- algBloom) ++ (algBloom -- fusedBloom)}")
    // one-sided error: bloom drop-set ⊇ exact drop-set
    assert(fusedBloom.subsetOf(fusedKept),
      "bloom keep-set must be a subset of the exact keep-set")

    // span scrub: rewritten TEXT equal byte-for-byte, census from the
    // same prefix corpus (real dup grams) — and the coverage gate's
    // verdicts AND dup_frac values equal the filter-HOF spelling
    val dupGrams = graft.operators.Dedup.duplicateNgramHashesFrom(
      corpus.orderBy("doc_id").limit(500),
      graft.operators.Dedup.DefaultCoverageN,
      graft.operators.Dedup.DefaultCoverageMinDocs).localCheckpoint()
    def texts(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "text").as[(Long, String)].collect().toMap
    val fusedScrub = texts(StreamingFeatures.spanScrubGateStream(docs, dupGrams))
    val algScrub = texts(StreamingFeatures.spanScrubGateStreamAlgebra(docs, dupGrams))
    assert(fusedScrub == algScrub, {
      val bad = fusedScrub.collect {
        case (id, t) if algScrub.get(id) != Some(t) => id
      }
      s"fused span scrub diverged on docs $bad"
    })
    val orig = texts(docs)
    assert(fusedScrub != orig,
      "scrub fixture must actually rewrite at least one doc")
    def cov(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
      df.select("doc_id", "dup_frac").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val fusedCov = cov(StreamingFeatures.dupCoverageGateStream(docs, dupGrams))
    val algCov = cov(StreamingFeatures.dupCoverageGateStreamAlgebra(docs, dupGrams))
    assert(fusedCov == algCov, "fused coverage gate diverged")
    assert(fusedCov.contains(900001L) && fusedCov(900001L).isEmpty,
      "null text must pass the coverage gate with a NULL score")
  }


  test("fused bpe counter ≡ fold gate on fixtures and ≡ batch type join at a deep merge table") {
    // r16 verdict ask #4: the gate's shipped form is the native fused
    // expression; the fold spelling stays the reference implementation.
    // Part 1 — semantics fixtures at a handcrafted table that exercises
    // the sharp edges: trailing-empty-symbol merges (split(t, "") keeps
    // the trailing ""), double spaces, trailing space, a surrogate-pair
    // char (split("") cuts code UNITS, so 😀 is TWO symbols), chained
    // merges, and null text. Fold and fused must agree PER DOC.
    val merges = Seq(("a", "b"), ("ab", "c"), ("s", ""), ("x", "y"), ("xy", "xy"))
    val fixtures = Seq(
      (1L, "abc abcabc a b c"), (2L, "cats dogs  s "), (3L, "xyxy xyxyxy xxyy"),
      (4L, "a😀b ab😀"), (5L, ""), (6L, " "),
      (7L, null.asInstanceOf[String]))
    val fixDf = fixtures.toDF("doc_id", "text")
    def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    val fold = counts(StreamingFeatures.bpeBudgetGateStreamFold(
      fixDf, merges, Long.MaxValue))
    val fused = counts(StreamingFeatures.bpeBudgetGateStream(
      fixDf, merges, Long.MaxValue))
    assert(fused == fold, s"fused/fold divergence on fixtures: $fused vs $fold")

    // Part 2 — per-doc lockstep with the batch TYPE JOIN over the sf
    // corpus at a realistically deep sampled merge table (the fold form
    // is deliberately NOT run here: its expression tree grows per merge
    // — the documented ceiling the fused form removes). Premise pinned
    // first: at spec SF the sampled learner's census covers every type,
    // so its table equals the sequential learner's.
    val sf = TestSpark.sf
    val deep = graft.operators.Bpe.learnSampled(spark, sf, nMerges = 64)
    assert(deep.size >= 32, s"expected a deep merge table, got ${deep.size}")
    assert(deep == graft.operators.Bpe.mergePairs(spark, sf, nMerges = 64),
      "sampled learner diverged from the sequential table at full census")
    val batch = graft.operators.Bpe.bpeTokenCounts(spark, sf, nMerges = 64)
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    val gated = counts(StreamingFeatures.bpeBudgetGateStream(
      Tables.documents(spark, sf).select("doc_id", "text"),
      deep, Long.MaxValue))
    assert(gated == batch,
      s"fused re-segmentation must equal the batch type join (${gated.size} vs ${batch.size} docs)")
  }

  test("session boundary tie: an event exactly gap after its predecessor EXTENDS the session; one past the gap splits") {
    // r16 advice: the sf corpus only distinguishes the conventions if
    // an exact prev+gap tie exists in the data — pin them with a
    // fixture. MEASURED semantics (this test falsified the r16
    // scaladoc/oracle's `>=`-splits claim): session_window's per-event
    // ranges [ts, ts+gap] union when they TOUCH, so the split rule is
    // `ts > prev + gap` — the SAME predicate as the lag chain; the
    // faces differ only in session_end (+gap vs max(ts)). User 7 has
    // the exact tie (one session both ways); user 8 is one second past
    // the gap (two sessions both ways).
    import java.nio.file.Files
    val dir = Files.createTempDirectory("sesstie").toString
    Seq((1L, ts("2016-06-14 00:00:00"), 7L, "click", 0.0, "{}"),
        (2L, ts("2016-06-14 00:30:00"), 7L, "click", 0.0, "{}"),
        (3L, ts("2016-06-14 00:00:00"), 8L, "click", 0.0, "{}"),
        (4L, ts("2016-06-14 00:30:01"), 8L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val windowed = graft.operators.EventAnalytics.sessionsWindowed(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(windowed == Set(
      (7L, ts("2016-06-14 00:00:00"), ts("2016-06-14 01:00:00"), 2L),
      (8L, ts("2016-06-14 00:00:00"), ts("2016-06-14 00:30:00"), 1L),
      (8L, ts("2016-06-14 00:30:01"), ts("2016-06-14 01:00:01"), 1L)),
      s"windowed face boundary conventions: $windowed")
    val lag = graft.operators.EventAnalytics.sessions(spark, dir)
      .select("user_id", "session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lag == Set((7L, 1L, 2L), (8L, 1L, 1L), (8L, 2L, 1L)),
      s"lag-chain sessions must share the split predicate: $lag")
    // and the STREAM agrees with its batch face on both boundaries
    val ev = MemoryStream[(String, Timestamp)](spark)
    val sessions = StreamingFeatures.sessionized(ev.toDF.toDF("uuid", "event_time"))
    ev.addData(("u7", ts("2016-06-14 00:00:00")), ("u7", ts("2016-06-14 00:30:00")),
      ("u8", ts("2016-06-14 00:00:00")), ("u8", ts("2016-06-14 00:30:01")))
    ev.addData(("zz", ts("2016-06-15 00:00:00"))) // watermark past all
    val out = runToMemory(sessions, "sesstie").filter($"uuid" =!= "zz")
      .select("uuid", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getString(0).drop(1).toLong, r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(out == windowed, s"stream diverged from batch face on the tie: $out")
  }

  test("windowed heavy-hitters batch face: exact per-window set, contained in the stream's closed-window candidates") {
    // r16 verdict ask #6 — the q_sessions_stream pattern: the streaming
    // MG windowed sketch gains an oracle-checkable batch face
    // (window × MG two-phase, exact per-window heavy hitters). Fixture
    // timeline: derived event_time = corpus epoch (2016-06-14 04:00 UTC)
    // + doc_id seconds, so docs 0–2 land in window (…04:00, …04:05]
    // and doc 600 in (…04:10, …04:15]. m = 3: window 1 has N = 22 — hot (12·3 > 22)
    // qualifies, warm (6·3 < 22) does not; window 2 has N = 4 — other
    // (3·3 > 4) qualifies.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("hhwinbatch").toString
    Seq((0L, "hot hot hot hot warm warm rare1", "en", "s", 1L),
        (1L, "hot hot hot hot warm warm rare2", "en", "s", 1L),
        (2L, "hot hot hot hot warm warm rare3 rare4", "en", "s", 1L),
        (600L, "other other other zzz", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.operators.CorpusStats.heavyHittersWindowed(spark, dir, m = 3)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(batch.toSet == Set(
      (ts("2016-06-14 04:05:00"), "hot", 12L, 22L),
      (ts("2016-06-14 04:15:00"), "other", 3L, 4L)),
      s"exact windowed heavy hitters wrong: ${batch.toSeq}")

    // guarantee-based lockstep with the stream (MG sub-threshold
    // survivors are arrival-order-dependent BY DESIGN, so containment +
    // lower bounds, not set equality): every exact heavy hitter of a
    // closed window appears among that window's stream candidates, with
    // lower_bound ≤ the exact count
    val docs = MemoryStream[(Long, Timestamp, String)](spark)
    val out = StreamingFeatures.heavyHitterStream(
      docs.toDF.toDF("doc_id", "event_time", "text"), m = 3)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("hhwinface").start()
    docs.addData(
      (0L, ts("2016-06-14 04:00:00"), "hot hot hot hot warm warm rare1"),
      (1L, ts("2016-06-14 04:00:01"), "hot hot hot hot warm warm rare2"),
      (2L, ts("2016-06-14 04:00:02"), "hot hot hot hot warm warm rare3 rare4"),
      (600L, ts("2016-06-14 04:10:00"), "other other other zzz"))
    q.processAllAvailable()
    docs.addData((9L, ts("2016-06-14 12:00:00"), "closer"))
    q.processAllAvailable()
    q.stop()
    val streamCands = spark.table("hhwinface").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    batch.foreach { case (wend, token, n, _) =>
      assert(streamCands.contains((wend, token)),
        s"exact heavy hitter ($wend, $token) missing from stream candidates: $streamCands")
      assert(streamCands((wend, token)) <= n,
        s"lower_bound overshot the exact count for ($wend, $token)")
    }
  }
}
