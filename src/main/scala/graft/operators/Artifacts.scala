package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Versioned persistence for the engine's reusable index artifacts —
  * the "train once, serve many jobs" shape a 100 TB pipeline actually
  * runs: the Bloom filter of a benchmark set is built by one nightly
  * job and probed by every curation run until the benchmark changes;
  * the IVF codebook is trained on one corpus snapshot and reused to
  * assign every incremental batch (retraining per batch would both
  * waste the Lloyd scans and silently MOVE cell boundaries, breaking
  * any persisted per-cell statistics).
  *
  * Every artifact carries the hash-family version
  * ([[TextHashes.HashFamilyVersion]]) plus its structural parameters as
  * columns, and `load` REFUSES (IllegalStateException) on any mismatch —
  * the failure mode this prevents is not hypothetical: the Bloom
  * position family moved in round 10 and the simhash/fingerprint family
  * moved twice in round 13, and a filter persisted across either
  * boundary would probe wrong positions with NO error signal, turning
  * the sketch's one-sided error into silent false negatives (missed
  * contamination). The scaladoc contract on
  * [[graft.functions.BloomFunctions]] required exactly this guard of
  * whoever added persistence.
  *
  * Format: plain parquet (the artifact stays readable by any engine,
  * matching the repo's cross-engine discipline) — one data row plus the
  * version/parameter columns repeated on it; codebooks are one row per
  * cell. No custom binary container: the Bloom word array is a few MB
  * at the broadcast-budget ceiling and parquet's encoding handles it.
  */
object Artifacts {

  /** Best-effort recursive directory delete (children before parents,
    * walk stream closed) — the ONE copy of the delete-tree idiom the
    * bench's temp-dir cleanups and [[scratchDir]]'s shutdown hook
    * share (the r15 review found three hand-rolled variants drifting).
    * Swallows per-entry NON-fatal failures: every caller is cleanup,
    * where a stray undeletable file must not fail the work that
    * produced it — but fatal VM errors propagate and a thread
    * interrupt re-sets the interrupt flag instead of being silently
    * eaten (r15 advice: the bare-Throwable form lost both).
    */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      val entries =
        try walk.iterator().asScala.toSeq finally walk.close()
      entries.sortBy(-_.getNameCount).foreach { p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch {
          case _: InterruptedException => Thread.currentThread().interrupt()
          case scala.util.control.NonFatal(_) => ()
        }
      }
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** Scratch directories handed out by [[scratchDir]], reaped at JVM
    * exit by one shared shutdown hook.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach(deleteRecursively(_))
    }))

  /** Per-call scratch directory for the frozen-artifact QUERIES (the
    * registered save→load→serve round trips). Fresh per call because
    * the loaded frame's parquet scan is LAZY — a shared fixed path
    * would let a later save swap the model under an earlier plan — but
    * reaped at JVM exit (r14 advice: bench/verify run each frozen
    * query warmup + 2 timed passes, and the per-call directories
    * otherwise accumulate in the tmpdir across rounds).
    */
  private[operators] def scratchDir(prefix: String): String = {
    scratchHookInstalled
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d.toString
  }

  /** Write a [[Decontam.bloomFrom]] filter (one `bloom: array<bigint>`
    * row) with its sizing and hash-family stamp.
    */
  def saveBloom(bloom: DataFrame, path: String, numBits: Long, k: Int): Unit = {
    // a lying stamp defeats the whole guard: verify the claimed sizing
    // against the filter's actual word count before persisting it as
    // "the source of truth" (one 1-row action on a 1-row frame)
    val words = bloom.select(size(col("bloom"))).head().getInt(0)
    val expect = ((numBits + 63) >> 6).toInt
    require(words == expect,
      s"saveBloom: filter has $words words but numBits=$numBits implies " +
        s"$expect — the stamp would mis-size every probe")
    bloom.select(col("bloom"),
      lit(TextHashes.HashFamilyVersion).as("hash_family_version"),
      lit(numBits).as("num_bits"), lit(k).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted Bloom filter, verifying the hash-family stamp and
    * returning (filter frame in the [[Decontam.bloomFrom]] shape,
    * numBits, k). Callers pass the returned sizing to the probe — using
    * session defaults against a differently-sized persisted filter
    * would silently read wrong word indices, so the artifact is the
    * source of truth.
    */
  def loadBloom(spark: SparkSession, path: String): (DataFrame, Long, Int) = {
    val df = spark.read.parquet(path)
    val meta = df.select("hash_family_version", "num_bits", "k").head()
    val ver = meta.getInt(0)
    if (ver != TextHashes.HashFamilyVersion)
      throw new IllegalStateException(
        s"persisted Bloom filter at $path was built by hash family v$ver; " +
          s"this build probes v${TextHashes.HashFamilyVersion} positions — " +
          "rebuild the filter (probing would yield silent false negatives)")
    val numBits = meta.getLong(1)
    val words = df.select(size(col("bloom"))).head().getInt(0)
    val expect = ((numBits + 63) >> 6).toInt
    if (words != expect)
      throw new IllegalStateException(
        s"persisted Bloom filter at $path carries $words words but its " +
          s"num_bits=$numBits stamp implies $expect — corrupt artifact")
    (df.select("bloom"), numBits, meta.getInt(2))
  }

  /** Write an IVF codebook (`cell: int, qc: array<bigint>` — the
    * [[Similarity.ivfAssign]] output shape) with its stamp.
    */
  def saveCodebook(centroids: DataFrame, path: String): Unit =
    centroids.select(col("cell"), col("qc"),
      lit(TextHashes.HashFamilyVersion).as("hash_family_version"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted codebook, verifying the stamp. The quantized
    * centroids are engine-exact integers, so an assignment against the
    * loaded codebook is bit-identical to one against the in-session
    * frame that produced it (spec-pinned).
    */
  def loadCodebook(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val ver = df.select("hash_family_version").head().getInt(0)
    if (ver != TextHashes.HashFamilyVersion)
      throw new IllegalStateException(
        s"persisted codebook at $path was built by hash family v$ver; " +
          s"this build is v${TextHashes.HashFamilyVersion} — retrain " +
          "(cell boundaries would not match the quantizer's sub-keys)")
    df.select("cell", "qc")
  }

  /** The shared stamp check for the round-14 model artifacts. `what`
    * names the artifact in the refusal message; `consequence` says what
    * silently breaks if the guard were absent (the scaladoc contract:
    * every refusal explains its failure mode).
    */
  private def checkStamp(df: DataFrame, path: String, what: String,
      consequence: String): Unit = {
    val ver = df.select("hash_family_version").head().getInt(0)
    if (ver != TextHashes.HashFamilyVersion)
      throw new IllegalStateException(
        s"persisted $what at $path was built by hash family v$ver; " +
          s"this build is v${TextHashes.HashFamilyVersion} — rebuild " +
          s"($consequence)")
  }

  /** Write a learned BPE merge table ([[Bpe.learnMerges]] shape:
    * merge_rank, sym_a, sym_b, merged, pair_count) with its stamp. The
    * merges are plain strings — no hash positions — but the stamp still
    * guards them: the tokenization conventions (whitespace split, empty
    * token handling) travel with the family version, and a uniform
    * refusal contract beats per-artifact exceptions.
    */
  def saveBpeMerges(merges: DataFrame, path: String): Unit = {
    // application ORDER is the model: a merge table whose ranks are not
    // dense from 1 would silently re-segment differently on load. The
    // check is count == DISTINCT ranks == max rank AND min rank == 1
    // (r14 advice: count == max alone accepts duplicate ranks
    // compensated by gaps, e.g. {1,1,3,4} — loadBpeMerges would then
    // order by a non-unique key and application order would be
    // nondeterministic with no refusal)
    val n = merges.agg(count(lit(1)), countDistinct(col("merge_rank")),
      max(col("merge_rank")), min(col("merge_rank"))).head()
    require(n.getLong(0) == 0 ||
      (n.getLong(0) == n.getLong(1) && n.getLong(0) == n.getInt(2).toLong &&
        n.getInt(3) == 1),
      s"saveBpeMerges: ${n.getLong(0)} rows, ${n.getLong(1)} distinct ranks, " +
        s"rank span [${n.get(3)}, ${n.get(2)}] — ranks must be unique and " +
        "dense from 1 (the gate applies merges in rank order)")
    // a metadata sentinel row (NULL rank) always accompanies the data
    // rows: an EMPTY merge table is a legitimate model (a corpus with
    // no repeatable pair exhausts learning at zero merges), and the
    // stamp must survive it — stamp columns live on rows
    val spark = merges.sparkSession
    merges.select(col("merge_rank"), col("sym_a"), col("sym_b"),
      col("merged"), col("pair_count"),
      lit(TextHashes.HashFamilyVersion).as("hash_family_version"))
      .unionAll(spark.range(1).select(
        lit(null).cast("int").as("merge_rank"),
        lit(null).cast("string").as("sym_a"),
        lit(null).cast("string").as("sym_b"),
        lit(null).cast("string").as("merged"),
        lit(null).cast("long").as("pair_count"),
        lit(TextHashes.HashFamilyVersion).as("hash_family_version")))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted BPE merge table, verifying the stamp; returns the
    * in-application-order pair list ([[Bpe.mergePairs]]'s shape — what
    * [[graft.streaming.StreamingFeatures.bpeBudgetGateStream]] compiles
    * into its per-row expression). Empty list = the saved model learned
    * zero merges (valid — the gate then counts raw symbols).
    */
  def loadBpeMerges(spark: SparkSession, path: String): Seq[(String, String)] = {
    val df = spark.read.parquet(path)
    checkStamp(df, path, "BPE merge table",
      "segmentations would drift from the family that learned them")
    df.filter(col("merge_rank").isNotNull)
      .orderBy("merge_rank").select("sym_a", "sym_b")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
  }

  /** Write a DSIR log-ratio model ([[Dsir.logRatios]] shape: bucket,
    * lr_micros — sentinel row at bucket −1 included) with its stamp and
    * bucket-space sizing.
    */
  def saveDsirModel(logRatios: DataFrame, path: String, nBuckets: Int): Unit = {
    // verify the claimed bucket space against the frame before it
    // becomes the source of truth (the saveBloom discipline): a lying
    // n_buckets stamp would make every consumer hash tokens into
    // buckets the model never trained — silently. A well-formed model
    // is never empty (the −1 sentinel row always exists).
    val m = logRatios.agg(count(lit(1)), max(col("bucket"))).head()
    require(m.getLong(0) > 0,
      "saveDsirModel: empty frame — a trained model carries at least " +
        "its −1 sentinel row")
    require(m.getLong(1) < nBuckets,
      s"saveDsirModel: model contains bucket ${m.getLong(1)} but the " +
        s"stamp claims nBuckets=$nBuckets — consumers would mis-bucket")
    logRatios.select(col("bucket"), col("lr_micros"),
      lit(TextHashes.HashFamilyVersion).as("hash_family_version"),
      lit(nBuckets).as("n_buckets"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted DSIR model, verifying the stamp; returns (model
    * frame in the [[Dsir.logRatios]] shape, nBuckets). Callers MUST
    * bucket incoming tokens with the returned nBuckets — scoring with a
    * session default against a differently-sized model would silently
    * read the wrong buckets, so the artifact is the source of truth
    * (the [[loadBloom]] discipline).
    */
  def loadDsirModel(spark: SparkSession, path: String): (DataFrame, Int) = {
    val df = spark.read.parquet(path)
    checkStamp(df, path, "DSIR log-ratio model",
      "tokens would hash into buckets the model never trained")
    (df.select("bucket", "lr_micros"), df.select("n_buckets").head().getInt(0))
  }

  /** Write a perplexity reference model ([[Perplexity.referenceNlp]] /
    * [[Perplexity.referenceNlpBigram]] shape: bucket, nlp_micros —
    * sentinel row included) with its stamp, bucket sizing, and model
    * ORDER (1 = unigram, 2 = bigram): an order-1 model loaded where an
    * order-2 gate expects one would score bigram buckets against
    * unigram mass with no error signal.
    */
  def savePerplexityModel(nlp: DataFrame, path: String, nBuckets: Int,
      order: Int): Unit = {
    require(order == 1 || order == 2, s"order must be 1 or 2, got $order")
    val m = nlp.agg(count(lit(1)), max(col("bucket"))).head()
    require(m.getLong(0) > 0,
      "savePerplexityModel: empty frame — a trained model carries at " +
        "least its −1 sentinel row")
    require(m.getLong(1) < nBuckets,
      s"savePerplexityModel: model contains bucket ${m.getLong(1)} but " +
        s"the stamp claims nBuckets=$nBuckets — consumers would mis-bucket")
    nlp.select(col("bucket"), col("nlp_micros"),
      lit(TextHashes.HashFamilyVersion).as("hash_family_version"),
      lit(nBuckets).as("n_buckets"), lit(order).as("model_order"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted perplexity reference model, verifying the stamp
    * AND the expected order; returns (model frame, nBuckets).
    */
  def loadPerplexityModel(spark: SparkSession, path: String,
      expectOrder: Int): (DataFrame, Int) = {
    val df = spark.read.parquet(path)
    checkStamp(df, path, "perplexity reference model",
      "the r14 bigram rebase moved this exact family — buckets would " +
        "not match the scorer's")
    val meta = df.select("model_order", "n_buckets").head()
    if (meta.getInt(0) != expectOrder)
      throw new IllegalStateException(
        s"persisted perplexity model at $path is order ${meta.getInt(0)}; " +
          s"this consumer scores order $expectOrder buckets — wrong model")
    (df.select("bucket", "nlp_micros"), meta.getInt(1))
  }

  /** Write a winnow fingerprint census (any frame with an `fp` column,
    * e.g. [[TextAnalytics.winnowFingerprints]] over the frozen corpus)
    * with its stamp and the (k, w) selection parameters that produced
    * it: a census probed with different (k, w) than it was built with
    * compares fingerprints from different gram/window spaces — every
    * probe a guaranteed miss.
    */
  def saveWinnowCensus(fps: DataFrame, path: String, k: Int, w: Int): Unit = {
    // the (k, w) stamp is NOT checkable against the fp values (they are
    // opaque packed hashes) — callers must pass the pair the selection
    // actually ran with; the loader hands it back as the source of
    // truth. A NULL-fp metadata sentinel always accompanies the data
    // rows: an empty census (no doc reaches w+k−1 tokens) is a
    // legitimate model and the stamp must survive it.
    val spark = fps.sparkSession
    fps.select(col("fp")).distinct()
      .select(col("fp"),
        lit(TextHashes.HashFamilyVersion).as("hash_family_version"),
        lit(k).as("k"), lit(w).as("w"))
      .unionAll(spark.range(1).select(
        lit(null).cast("long").as("fp"),
        lit(TextHashes.HashFamilyVersion).as("hash_family_version"),
        lit(k).as("k"), lit(w).as("w")))
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted winnow census, verifying the stamp; returns
    * (distinct-fp frame, k, w). Callers pass the returned (k, w) to the
    * gate's fingerprint extraction.
    */
  def loadWinnowCensus(spark: SparkSession, path: String): (DataFrame, Int, Int) = {
    val df = spark.read.parquet(path)
    checkStamp(df, path, "winnow fingerprint census",
      "every probe would miss silently — the admission gate would " +
        "wave all duplicates through")
    val meta = df.select("k", "w").head()
    (df.filter(col("fp").isNotNull).select("fp"),
      meta.getInt(0), meta.getInt(1))
  }

  /** Train and persist every artifact type from one corpus snapshot —
    * the nightly "model export" job of the train-once/serve-many
    * split: [[graft.streaming.StreamingFeatures.admissionGateStream]]
    * loads this directory and gates the live stream against it. Paths
    * are fixed child names so exporter and server cannot disagree on
    * layout. Registered demo sizings throughout (the same constants the
    * oracle-checked queries pin); production runs raise the knobs at
    * the call sites this delegates to.
    */
  def exportAll(spark: SparkSession, corpusDir: String, outDir: String,
      nMerges: Int = Bpe.DefaultMerges): Unit = {
    saveBloom(
      Decontam.bloomFrom(Decontam.benchmarkDigests(spark, corpusDir),
        Decontam.DefaultBloomBits, Decontam.DefaultBloomK),
      s"$outDir/bloom", Decontam.DefaultBloomBits, Decontam.DefaultBloomK)
    val (cents, _) = Similarity.ivfAssign(spark, corpusDir,
      nCells = 16, lloydIters = 2)
    saveCodebook(cents, s"$outDir/ivf_codebook")
    saveBpeMerges(Bpe.learnMerges(spark, corpusDir, nMerges),
      s"$outDir/bpe_merges")
    saveDsirModel(Dsir.logRatios(spark, corpusDir),
      s"$outDir/dsir", Dsir.DefaultNBuckets)
    savePerplexityModel(Perplexity.referenceNlpBigram(spark, corpusDir),
      s"$outDir/perplexity_bigram", Perplexity.DefaultBigramBuckets, order = 2)
    saveWinnowCensus(TextAnalytics.winnowFingerprints(spark, corpusDir),
      s"$outDir/winnow_census", TextAnalytics.WinnowK, TextAnalytics.WinnowW)
  }
}
