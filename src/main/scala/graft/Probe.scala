package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.Bench.{errorJson, errorText, jsonMap, marginalMs, replayGateRate, Rate}
import graft.streaming.StreamingFeatures

/** The measurement main: every run besides Bench's published line and
  * Verify's dump goes through one subcommand here, so experiments run
  * from a documented entry point instead of one-off code.
  *
  *   sbt "runMain graft.Probe <subcommand> [args]"
  *
  * with SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS read as Bench reads
  * them. Each subcommand's arguments are checked before the session is
  * built; each subcommand is a function of the session, so specs can
  * call it. See [[Usage]] for the list.
  */
object Probe {
  private val Usage: String =
    """usage: graft.Probe <subcommand> (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench)
      |  plan <q1,q2,...> [<outDir> <tag>]  formatted + AQE-final plan per query; stdout, or <outDir>/<q>_<tag>.txt
      |  audit                              scan/exchange sweep over every registered query
      |  gates                              standalone stream gate rates (gates_only line)
      |  docs                               docs hygiene gate, stages and batch sizes (docs_only line)
      |  admission [N]                      admission gate + BPE sizing; N >= 2 adds an N x corpus (admission_only line)
      |  models                             admission stages at two model sizes (models_only line)""".stripMargin

  def main(args: Array[String]): Unit = {
    val run = command(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    try run(spark, sfDir) finally spark.stop()
  }

  /** The subcommand `args` names, checked, as a function of the session
    * and SF dir; an IllegalArgumentException carrying [[Usage]] when the
    * line is not one of them.
    */
  private[graft] def command(args: Seq[String]): (SparkSession, String) => Unit = args match {
    case Seq("plan", qs, out @ _*) if out.isEmpty || out.size == 2 =>
      val names = qs.split(",").toSeq.filter(_.nonEmpty)
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (names.isEmpty || unknown.nonEmpty)
        usageError(s"plan: unknown query ${unknown.mkString(",")}; known: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      val dest = out match { case Seq(dir, tag) => Some((dir, tag)); case _ => None }
      (spark, sfDir) => { plan(spark, sfDir, names, dest); () }
    case Seq("audit") => audit
    case Seq("gates") => (spark, sfDir) => println(gates(spark, sfDir))
    case Seq("docs") => (spark, sfDir) => println(docs(spark, sfDir))
    case Seq("admission") => (spark, sfDir) => println(admission(spark, sfDir, None))
    case Seq("admission", n) =>
      val factor = n.toIntOption.filter(_ > 1)
        .getOrElse(usageError(s"admission: N must be an integer >= 2, got '$n'"))
      (spark, sfDir) => println(admission(spark, sfDir, Some(factor)))
    case Seq("models") => (spark, sfDir) => println(models(spark, sfDir))
    case Seq() => usageError("missing subcommand")
    case _ => usageError(s"unknown subcommand line: ${args.mkString(" ")}")
  }

  private def usageError(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$Usage")

  // ---- plan, audit ---------------------------------------------------

  /** `plan`: per query, the formatted plan and the AQE-final executed
    * plan of the SAME QueryExecution after one execution (this engine's
    * partition-economics claims are AQE runtime decisions a speculative
    * plan cannot show; a sink write would plan a separate execution and
    * leave this one at isFinalPlan=false). Printed to stdout, or written
    * to `<outDir>/<q>_<tag>.txt` when `out` is given. Every persistent
    * RDD is dropped after each query. Returns the texts in order.
    */
  private[graft] def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      out: Option[(String, String)]): Seq[String] =
    names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      df.queryExecution.toRdd.count()
      val text = s"=== formatted plan ===\n$formatted\n" +
        s"=== executed plan (AQE-final) ===\n${df.queryExecution.executedPlan}\n"
      Bench.dropBlocks(spark)
      out match {
        case None => print(text)
        case Some((dir, tag)) =>
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(dir, s"${name}_$tag.txt"), text)
          println(s"dumped $name")
      }
      text
    }

  /** `audit`: the verify skill's scan-count sweep over EVERY registered
    * query in one JVM: per query, the number of parquet scans, hash
    * exchanges, range exchanges, and whether ANY exchange input (hash or
    * range — r7's passage-dedup finding showed sort exchanges were a
    * blind spot) carries a raw `text#`/`text_clean#` column — the
    * one-glance smells (a multi-consumer frame re-running its scan, an
    * unexpected shuffle, the corpus crossing an exchange). Queries whose
    * first operator is a lazy localCheckpoint legitimately report 0
    * visible scans (the scan hides behind the checkpoint boundary) —
    * read those rows as "shape asserted elsewhere", not as free. The
    * REWRITE operators (q_passage_dedup, q_dup_span_scrub and its n=50
    * variant) print "yes (answer-bearing sort)": their final range sort
    * carries the raw text because their ANSWER is the rebuilt corpus;
    * PlanSpec pins that the sort is the only text-bearing exchange and
    * that the rebuild runs above it. Any other text-crossing exchange
    * renders "YES <-- smell" — a regression, no scaladoc cross-reference
    * needed.
    */
  private[graft] def audit(spark: SparkSession, sfDir: String): Unit = {
    println(f"${"query"}%-32s scans  hashEx  rangeEx  text-in-anyEx")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        val lines = plan.linesIterator.toVector
        val scans = lines.count(_.matches("""\(\d+\) Scan parquet\s*"""))
        val exchanges = lines.zipWithIndex.collect {
          case (l, i) if l.matches("""\(\d+\) Exchange\b.*""") =>
            val detail = lines.slice(i + 1, i + 4)
            (detail.find(_.startsWith("Input")).getOrElse(""),
              detail.find(_.startsWith("Arguments")).getOrElse(""))
        }
        val hashEx = exchanges.filter(_._2.contains("hashpartitioning"))
        // range exchanges were the audit's blind spot until r8: the
        // passage-dedup global sort shipped the rebuilt corpus through
        // one while every HASH exchange stayed slim (r7 verdict)
        val rangeEx = exchanges.filter(_._2.contains("rangepartitioning"))
        // flag only a BARE text/text_clean attribute in the input list —
        // a derived name like `md5(cast(text#1 as binary))#18` is a
        // digest, not the corpus crossing the wire
        val bareText = """[\[ ]text(_clean)?#\d+[,\]]""".r
        val textCrossing = exchanges.exists(e => bareText.findFirstIn(e._1).isDefined)
        val sanctionedTextSort =
          Set("q_passage_dedup", "q_dup_span_scrub", "q_dup_span_scrub_n50")
        val flag =
          if (!textCrossing) "-"
          else if (sanctionedTextSort(name)) "yes (answer-bearing sort)"
          else "YES <-- smell"
        println(f"$name%-32s $scans%5d  ${hashEx.size}%6d  ${rangeEx.size}%7d  $flag")
      } catch { case t: Throwable =>
        println(f"$name%-32s ERR ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(80)}")
      }
    }
  }

  // ---- gate-rate iteration modes --------------------------------------
  //
  // Each prints one JSON line tagged `<mode>_only`: the isolation and
  // iteration forms of Bench's stream-rate section, which should not pay
  // the full suite per experiment. The rates are Bench's own harness.

  /** `gates`: the standalone stream gate rates (docs hygiene chain, span
    * scrub, winnow census, Bloom winnow, text, ingest) — the isolation
    * mode for adjudicating a degraded full-run streams section (r17: the
    * full run recorded an UNTOUCHED scrub gate 2.8× under its band with
    * flat calibration; Bench's isolated re-run automates this in-process).
    */
  private[graft] def gates(spark: SparkSession, sfDir: String): String = {
    val docsRate = Bench.docsGateRate(spark, sfDir)
    val parts = Seq(
      docsRate.json("docs_gate"),
      s""""docs_gate_stage_rows_per_sec":${docsRate.stagesJson}""",
      Bench.scrubGateRate(spark, sfDir).json("scrub_gate"),
      Bench.winnowGateRate(spark, sfDir).json("winnow_gate"),
      Bench.winnowGateRate(spark, sfDir, bloom = true).json("winnow_bloom_gate"),
      Bench.textGateRate(spark, sfDir).json("text_gate"),
      Bench.streamIngestRate(spark, sfDir).json("stream_ingest"))
    s"""{"metric":"gates_only",${parts.mkString(",")},"sf":${JsonText.escape(sfDir)}}"""
  }

  /** `docs`: the docs hygiene gate alone (composite + the r18 per-stage
    * attribution + [[docsGateBatchProfile]]) — the iteration mode for its
    * dominant stage.
    */
  private[graft] def docs(spark: SparkSession, sfDir: String): String = {
    val rate = Bench.docsGateRate(spark, sfDir)
    val batchJson = docsGateBatchProfile(spark, sfDir)
    s"""{"metric":"docs_only",${rate.json("docs_gate")},"docs_gate_stage_rows_per_sec":${rate.stagesJson},"docs_gate_batch_rows_per_sec":$batchJson,"sf":${JsonText.escape(sfDir)}}"""
  }

  /** Micro-batch-size profile of the FULL hygiene chain (r17 verdict
    * ask #1's adjudication arm): the per-stage attribution put the
    * post-fuse residual on the STATEFUL dedup stage, whose state-store
    * exchange + per-partition commit is a fixed cost per micro-batch —
    * a hypothesis this probe measures directly by replaying the same
    * 8k rows at 1k/2k/4k/8k chunk sizes. Rate rising with chunk size =
    * the cost is per-batch fixed and amortizes at production batch
    * sizes (millions of rows per trigger at 100 TB ingest), not
    * per-row work this repo could fuse away.
    */
  private def docsGateBatchProfile(spark: SparkSession, sfDir: String): String =
    try {
      val rows = Bench.replayDocs(spark, sfDir)._2
      jsonMap(Bench.prefixRates(Seq(1000, 2000, 4000, 8000).map { c =>
        val chunks = rows.grouped(c).toSeq
        s"b$c" -> (() => Bench.docsGatePass(spark, chunks, 5))
      }))
    } catch { case t: Throwable => errorJson(t) }

  /** `admission [N]`: the composed admission gate alone (median-of-five
    * composite + the r15 per-stage attribution) — the iteration mode for
    * the fleet's slowest gate — plus the standalone BPE-gate sizing
    * (r16 verdict ask #4): fused native expression at the realistic
    * 128-merge table and the registered 8-merge one, the retained fold
    * spelling at 8 (its tree growth forbids 128 — the point of the
    * fuse), and the bare replay, so the attributed per-row marginal is a
    * number in the artifact: 1000·(1/rate − 1/passthrough).
    *
    * With a `scale` factor N (r15 verdict ask #6): the admission
    * composite again over an N× replicated corpus with the six frozen
    * artifacts REBUILT at that scale, plus the winnow census gate with
    * the census drawn from the WHOLE corpus at both sizes — the measured
    * form of the 100 TB claim that the scan-side stage cost is
    * corpus-independent (the replayed rows are the same 2000×4 base docs
    * either way; only the model state grows). A failure of that block
    * degrades to an `admission_scale_error` field.
    */
  private[graft] def admission(spark: SparkSession, sfDir: String, scale: Option[Int]): String = {
    val adm = Bench.admissionGateRate(spark, sfDir)
    val bpeJson = {
      val pass = Bench.bpeGateRate(spark, sfDir, 0, fused = true)
      val f128 = Bench.bpeGateRate(spark, sfDir, 128, fused = true)
      val f8 = Bench.bpeGateRate(spark, sfDir, 8, fused = true)
      val fold8 = Bench.bpeGateRate(spark, sfDir, 8, fused = false)
      Seq(pass.json("bpe_gate_passthrough"), f128.json("bpe_gate_fused128"),
        f8.json("bpe_gate_fused8"), fold8.json("bpe_gate_fold8"),
        s""""bpe_fused128_marginal_ms_per_row":${marginalMs(f128, pass)}""")
        .mkString(",")
    }
    val scaledJson = scale.map { f =>
      try {
        val dir = Files.createTempDirectory("graft_gates_scale")
        try {
          Bench.writeScaledDocTables(spark, sfDir, dir.toString, f)
          val a = Bench.admissionGateRate(spark, dir.toString)
          // the Bloom-census escape hatch at the production 2²⁷-bit
          // sizing, same corpus-census growth (r16 verdict ask #5):
          // flat base→scaled here is the measured form of "past tens of
          // millions of fps, switch to the Bloom census"
          val winnow = Seq(
            "winnow_census_gate_base" ->
              Bench.winnowGateRate(spark, sfDir, censusFromCorpus = true),
            "winnow_census_gate_scaled" ->
              Bench.winnowGateRate(spark, dir.toString, censusFromCorpus = true),
            "winnow_bloom_gate_base" ->
              Bench.winnowGateRate(spark, sfDir, censusFromCorpus = true, bloom = true),
            "winnow_bloom_gate_scaled" ->
              Bench.winnowGateRate(spark, dir.toString, censusFromCorpus = true, bloom = true))
            .map { case (k, r) => s""""$k":${r.rowsPerSec},"${k}_error":${r.errorJson}""" }
          s""","admission_scale":{"factor":$f,${a.json("admission_gate")},"admission_stage_rows_per_sec":${a.stagesJson},${winnow.mkString(",")}}"""
        } finally graft.operators.Artifacts.deleteRecursively(dir)
      } catch { case t: Throwable =>
        s""","admission_scale_error":${JsonText.escape(errorText(t))}"""
      }
    }.getOrElse("")
    s"""{"metric":"admission_only",${adm.json("admission_gate")},"admission_stage_rows_per_sec":${adm.stagesJson},$bpeJson,"sf":${JsonText.escape(sfDir)}$scaledJson}"""
  }

  /** `models`: each artifact-driven admission stage re-measured
    * standalone at a demo-adjacent and a production-shaped MODEL size
    * (r17 verdict ask #7) — Bloom 2²⁰ vs 2²⁷ bits, bigram perplexity 256
    * vs 4096 buckets, DSIR 256 vs 4096 buckets, fused BPE 2⁷ vs 2¹⁰
    * merges — over the same fixed replay, with a passthrough row so each
    * rate carries its marginal ms/row. The architectural claim being
    * measured: every one of these gates is a per-token probe into a dense
    * array / bitset / bounded memo, so the per-row cost should be FLAT in
    * model size (the model grows the broadcast once, not the inner loop)
    * — a measured slope replaces the OPERATIONS.md extrapolation either
    * way. Thresholds are set non-dropping so every doc pays every
    * stage's full scoring cost.
    */
  private[graft] def models(spark: SparkSession, sfDir: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val pass = replayGateRate(spark, sfDir)(_ => df => df)
    parts += pass.json("passthrough")
    def withMarginal(tag: String, r: Rate): Unit =
      parts += r.json(tag) + s""","${tag}_marginal_ms_per_row":${marginalMs(r, pass)}"""
    def failed(tag: String, t: Throwable): Unit =
      parts += s""""${tag}_error":${JsonText.escape(errorText(t))}"""
    // Bloom decontam at the registered and production bit sizings —
    // the bitset array grows 128×, the per-token probe count does not
    val digests = try {
      Some(graft.operators.Decontam.benchmarkDigests(spark, sfDir)
        .localCheckpoint())
    } catch { case NonFatal(t) => failed("bloom", t); None }
    digests.foreach { d =>
      Seq(20, 27).foreach { bits =>
        val numBits = 1L << bits
        val bloom = graft.operators.Decontam
          .bloomFrom(d, numBits, graft.operators.Decontam.DefaultBloomK)
          .localCheckpoint()
        withMarginal(s"bloom_bits$bits", replayGateRate(spark, sfDir)(_ => df =>
          StreamingFeatures.bloomDecontamGateStreamLoaded(df, bloom, numBits,
            graft.operators.Decontam.DefaultBloomK, minFrac = 1.1)))
      }
    }
    // bigram perplexity at 256 vs 4096 model buckets — the dense model
    // array grows 16×, the per-pair bucket+lookup does not
    Seq(256, 4096).foreach { nb =>
      try {
        val model = graft.operators.Perplexity
          .referenceNlpBigram(spark, sfDir, nBuckets = nb).localCheckpoint()
        withMarginal(s"perplexity_buckets$nb", replayGateRate(spark, sfDir)(_ => df =>
          StreamingFeatures.perplexityGateStreamBigram(df, model, Long.MaxValue, nb)))
      } catch { case NonFatal(t) => failed(s"perplexity_buckets$nb", t) }
    }
    // DSIR at 256 vs 4096 model buckets — same dense-array shape
    Seq(256, 4096).foreach { nb =>
      try {
        val model = graft.operators.Dsir
          .logRatios(spark, sfDir, nBuckets = nb).localCheckpoint()
        withMarginal(s"dsir_buckets$nb", replayGateRate(spark, sfDir)(_ => df =>
          StreamingFeatures.dsirGateStream(df, model, Long.MinValue, nb)))
      } catch { case NonFatal(t) => failed(s"dsir_buckets$nb", t) }
    }
    // fused BPE at 2⁷ vs 2¹⁰ merges — the bounded per-task memo means
    // deeper tables pay at memo-miss time only
    Seq(128, 1024).foreach(m =>
      withMarginal(s"bpe_merges$m", Bench.bpeGateRate(spark, sfDir, m, fused = true)))
    s"""{"metric":"models_only",${parts.mkString(",")},"sf":${JsonText.escape(sfDir)}}"""
  }
}
