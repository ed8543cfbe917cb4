package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties the engine
  * promises (pruning, pushdown, broadcast choice, top-k operator, single
  * shuffle for the union-pivot) asserted from explain output so a future
  * change can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1 scan is column-pruned to the 5 referenced columns") {
    val plan = planOf("q1_pricing_summary")
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, plan)
    val cols = readSchema.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus"), s"scan read $cols")
  }

  test("top-docs pushes the event-type filter into the parquet scan and uses TakeOrdered") {
    val plan = planOf("q_top_docs")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]")
      || plan.contains("EqualTo(event_type,click)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("region revenue broadcasts the bounded dims") {
    val plan = planOf("q_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
  }

  test("union-pivot features aggregate with a single shuffle") {
    // The J1 promise: one stateful/shuffle stage instead of two aggs + a
    // join. Exactly one hash-partitioning Exchange (partial->final agg);
    // the only other Exchange is the cosmetic final orderBy's range
    // partitioning.
    val plan = planOf("q_features_20m")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected exactly 1 hash shuffle, got $hashExchanges:\n$plan")
  }

  test("vocab top-k uses partial aggregation and TakeOrderedAndProject") {
    val plan = planOf("q_vocab_top100")
    // wordcount must combine map-side: a partial_count before the token
    // shuffle, then the top-k via per-partition heaps, never a global sort
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), s"global sort crept in:\n$plan")
  }

  test("repetition scores shuffle distinct (doc, token) rows, not the token stream") {
    val plan = planOf("q_repetition_scores")
    // both rollups must have a partial phase (map-side combine), so the
    // only full-width shuffle carries one row per distinct (doc, token)
    assert(plan.contains("partial_count"), plan)
    assert("hashpartitioning\\(doc_id".r.findFirstIn(plan).isDefined, plan)
  }

  test("salted hourly top-k ranks within (hour, salt) before the final per-hour rank") {
    val plan = planOf("q_hourly_top_docs")
    // phase 1's window partitions by (hour_bucket, pmod(doc_id, salts)):
    // the salt key must appear in a hashpartitioning, bounding any single
    // reducer's input to k rows per salt group
    assert(plan.contains("pmod("), plan)
  }

  test("IVF assignment never shuffles the corpus (map-side NearestCells argmin)") {
    // The round-2/3 scale fix: each vector's cell comes from scanning the
    // 1-row broadcast codebook with the native argmin — the corpus rows
    // (vec_id, qe) must reach their cell without ever crossing a shuffle.
    // The only legal Exchanges carry centroid-side rows (the codebook
    // collect_list and the Lloyd re-centroid partials), none of which
    // include vec_id. A regression to the old crossJoin+row_number plan
    // would put vec_id into a hashpartitioning Exchange and fail here.
    val (_, assigned) = graft.operators.Similarity.ivfAssign(
      spark, sf, nCells = 8, lloydIters = 2, materializeAssigned = false)
    val plan = assigned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.forall(!_.contains("vec_id#")),
      s"corpus rows crossed a shuffle:\n${exchangeInputs.mkString("\n")}\n$plan")
    // sanity: the codebook IS broadcast and the corpus scan is present
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("exact dedup shuffles the digest, not the text") {
    val plan = planOf("q_dedup_exact")
    // the partial aggregate keys on md5(text): the exchange carries the
    // digest + partial counts; text must not appear in the shuffle key
    val hashLines = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashLines.nonEmpty, plan)
    assert(hashLines.forall(!_.contains("text#")), hashLines.mkString("\n"))
  }

  test("passage dedup hash-shuffles digests and indexes, never passage text") {
    // census exchanges carry (doc_id, idx, 8-byte hash); the rebuild
    // join ships a slim (doc_id, int-array) frame. Only the cosmetic
    // final range sort may carry text — its payload IS the answer.
    val plan = planOf("q_passage_dedup")
    val lines = plan.linesIterator.toVector
    val exchanges = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        val detail = lines.slice(i + 1, i + 4)
        (detail.find(_.startsWith("Input")).getOrElse(""),
          detail.find(_.startsWith("Arguments")).getOrElse(""))
    }
    val hashInputs = exchanges.collect {
      case (in, args) if args.contains("hashpartitioning") => in
    }
    assert(hashInputs.nonEmpty, plan)
    assert(hashInputs.forall(l =>
      !l.contains("text#") && !l.contains("passage#")),
      s"passage text crossed a hash shuffle:\n${hashInputs.mkString("\n")}")
    // r8: the rebuild must run ABOVE the final sort — the range exchange
    // ships the raw scan column, and the range-bounds sampling pass must
    // never execute the tokenize+chunk+rejoin transform (the r7 probe's
    // 2.16x superlinear finding; post-sort rebuild measures 0.35)
    assertPostSortRebuild(exchanges, plan)
  }

  /** Shared pin for the two rewrite operators: exactly one range
    * exchange (the final sort), carrying the raw scan text but never
    * the rebuilt text_clean — i.e. the rebuild runs above the sort.
    */
  private def assertPostSortRebuild(
      exchanges: Seq[(String, String)], plan: String): Unit = {
    val rangeInputs = exchanges.collect {
      case (in, args) if args.contains("rangepartitioning") => in
    }
    assert(rangeInputs.size == 1,
      s"expected exactly one range exchange (the final sort):\n$plan")
    assert(rangeInputs.head.contains("text#") &&
      !rangeInputs.head.contains("text_clean#"),
      s"rebuild must happen after the sort, not before:\n${rangeInputs.head}")
  }

  /** Shared pin for both registered span lengths: digests-only hash
    * shuffles + the post-sort rebuild (the window length must never
    * change the plan shape, only per-row expression cost).
    */
  private def assertSpanScrubShape(q: String): Unit = {
    val plan = planOf(q)
    val lines = plan.linesIterator.toVector
    val exchanges = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        val detail = lines.slice(i + 1, i + 4)
        (detail.find(_.startsWith("Input")).getOrElse(""),
          detail.find(_.startsWith("Arguments")).getOrElse(""))
    }
    val hashInputs = exchanges.collect {
      case (in, args) if args.contains("hashpartitioning") => in
    }
    assert(hashInputs.nonEmpty, plan)
    assert(hashInputs.forall(l =>
      !l.contains("text#") && !l.contains("gram#")),
      s"text crossed a hash shuffle:\n${hashInputs.mkString("\n")}")
    assertPostSortRebuild(exchanges, plan)
  }

  test("dup-span scrub shuffles digests only and rebuilds above its final sort") {
    assertSpanScrubShape("q_dup_span_scrub")
  }

  test("dup-span scrub at n=50 keeps the identical digest-only post-sort shape") {
    assertSpanScrubShape("q_dup_span_scrub_n50")
  }

  test("curation pipeline projects text away before every exchange") {
    // quality/digest/split all compute map-side in one scan; the dedup
    // groupBy and keeper join shuffle 16-byte digests. If text ever
    // reaches an Exchange input, the pipeline is shipping the corpus.
    val plan = planOf("q_curation")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(!_.contains("text#")),
      s"text crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("external-benchmark decontamination broadcasts the benchmark; corpus shingles never shuffle") {
    // the production form's asymmetry claim as a plan fact: the benchmark
    // side is a BroadcastExchange, and no hash-partitioned exchange
    // carries a shingle — corpus n-grams are exploded and probed in the
    // scan stage, so the only data-sized shuffles are (doc_id, count)
    import spark.implicits._
    val bench = Seq("alpha beta gamma").toDF("shingle")
    val df = operators.Decontam.contaminationAgainst(spark, sf, bench)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastExchange"), plan)
    val shingleShuffles = plan.linesIterator.filter(l =>
      l.contains("hashpartitioning(shingle")).toSeq
    assert(shingleShuffles.isEmpty,
      s"corpus shingles crossed a shuffle:\n${shingleShuffles.mkString("\n")}")
  }

  test("complete curation chain keeps text out of every exchange") {
    // six stages, one claim: fingerprints/digests/ids/embeddings may
    // shuffle; the document text never does
    val plan = planOf("q_curation_complete")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(!_.contains("text#")),
      s"text crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("full hygiene curation also keeps text out of every exchange") {
    // same stance as q_curation with two more stages in the pass: the
    // redacted text lives only in the scan-side checkpoint handoff;
    // exchanges carry digests, ids, and shingle matches (the documented
    // benchmark-side distinct) — never the document text.
    val plan = planOf("q_curation_full")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(!_.contains("text#")),
      s"text crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("bloom decontam keeps text and gram strings scan-side: exchanges carry digests and counts only") {
    // the Bloom path's whole point is exchange weight: the benchmark
    // dedup shuffles 8-byte digests (digest-before-distinct), the filter
    // row shuffles numBits/64 words, the probe side shuffles partial
    // (doc_id, count) — neither the document text nor any gram string
    // (shingle/shingles) may appear in any Exchange input
    val plan = planOf("q_decontam_bloom")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(in => !in.contains("text#") && !in.contains("shingle")),
      s"text or gram strings crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("bm25 candidates are born scan-side: neither text nor tokens cross an exchange") {
    // the no-corpus-shuffle claim: per-term tf is array algebra inside
    // the scan stage, so exchanges carry only (query, doc, score/df)
    // candidates — never the document text or the token array
    val plan = planOf("q_bm25_search")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(l => !l.contains("text#") && !l.contains("toks#")),
      s"corpus text/tokens crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
    // the query-term and idf sides broadcast
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("shard interleave windows are partitioned — no single-partition global rank") {
    // the distributed-rank claim: every Window in the plan carries a
    // partition spec; a partition-less Window would serialize the corpus
    // through one task (the exact failure the two-phase design avoids)
    val plan = planOf("q_shard_interleave")
    // a Window node's formatted Arguments are
    //   [functions], [partitionCols], [orderCols]
    // — an empty middle list (`], [], [`) is the single-partition rank
    val lines = plan.linesIterator.toVector
    val windowArgs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Window\b.*""") =>
        lines.drop(i + 1).find(_.trim.startsWith("Arguments")).getOrElse("")
    }
    assert(windowArgs.nonEmpty, plan)
    assert(windowArgs.forall(a => !a.contains("], [], [")),
      s"partition-less window found:\n${windowArgs.mkString("\n")}")
    // and text never crosses an exchange here either
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.forall(!_.contains("text#")),
      s"text crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("perplexity bucketing keeps text out of exchanges and broadcasts the model") {
    val plan = planOf("q_perplexity_buckets")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(l => !l.contains("text#") && !l.contains("buckets#")),
      s"text/bucket-array crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("fuzzy decontam broadcasts the benchmark signatures; text never shuffles") {
    val plan = planOf("q_fuzzy_decontam")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.forall(!_.contains("text#")),
      s"text crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("dsir shuffles bucket partials and integer doc sums — never text or bucket arrays") {
    val plan = planOf("q_dsir_weights")
    val lines = plan.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, plan)
    assert(exchangeInputs.forall(l => !l.contains("text#") && !l.contains("buckets#")),
      s"text/bucket-array crossed a shuffle:\n${exchangeInputs.mkString("\n")}")
    // the nBuckets-row log-ratio table broadcasts back to the scorer
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("single-partition windows exist ONLY in the four pinned output-sized cases") {
    // r18 verdict ask #8: every "No Partition Defined for Window"
    // source positively identified. The four registered queries below
    // run their global window over a provably bounded frame — never the
    // data: q_packing_stats / q_pack_sequences over the BUCKET-TOTALS
    // frame (≤ nBuckets = 1000 rows, Packing.withBucketPrefix's
    // documented step-2 contract), q_spike_events over the
    // calendar-bounded minutes frame (~526k rows/year of history
    // regardless of event volume), q_type_distribution's share-of-total
    // over the per-type rollup (≤ |media types| rows). The only other
    // runtime warning source is the IVF centroid SEED (row_number over
    // an `orderBy.limit(nCells)` frame, ≤ 16 rows — Similarity's
    // codebook builder, materialized behind a checkpoint boundary so it
    // never appears in a registered query's final plan). This test is
    // the enumeration: it walks every registered query's optimized plan.
    // Any NEW query landing a partition-less window fails this set
    // equality and must either partition it or justify itself here.
    val pinned = Set("q_packing_stats", "q_pack_sequences",
      "q_spike_events", "q_type_distribution")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // release only what this query's planning persisted: other suites'
      // blocks on the shared session are not this test's to drop
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val hasGlobalWindow = plan.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.isDefined
      (spark.sparkContext.getPersistentRDDs.keySet -- before).foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      if (hasGlobalWindow) Some(name) else None
    }.toSet
    assert(offenders == pinned,
      s"single-partition-window set drifted: got $offenders, pinned $pinned")
  }

  test("text gates land each fused census once in the optimized plan") {
    // r19: filter pushdown inlined a deterministic census into the
    // Filter condition once per field reference (multi x18, gopherstats
    // x12 before the stream gates passed pushable = false, x1/x1 after);
    // FilterExec has no subexpression elimination, so each copy re-ran
    // the whole per-document sweep
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingFeatures
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select("doc_id", "text")
    val plan = StreamingFeatures.repetitionGateStream(
      StreamingFeatures.gopherGateStream(docs)).queryExecution.optimizedPlan.toString
    assert("ngramrepstatsmulti".r.findAllIn(plan).size == 1, plan)
    assert("gopherstats".r.findAllIn(plan).size == 1, plan)
  }
}
