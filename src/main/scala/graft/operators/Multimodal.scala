package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Multimodal-column plumbing (builder-prompt extension): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode/feature-extraction as batched per-partition
  * inference.
  *
  * The Spark-side architecture is real and tested — schema, partitioning,
  * batch shape (fixed-size micro-batches per partition, the shape a GPU
  * inference UDF needs), and the feature-vector output contract. The codec
  * itself is STUBBED (this container has no image/audio libraries) behind
  * [[StubCodec]]: a clearly-marked deterministic fake that derives
  * "features" from the bytes. Swapping in a real decoder changes one
  * function, not the pipeline.
  *
  * Scale stance: decode runs scan-side via mapPartitions — no shuffle; the
  * binary column never moves. Batch size bounds peak memory per task
  * (`maxRecordsPerBatch` thinking applied to JVM inference).
  */
object Multimodal {

  /** Typed metadata carried alongside every binary payload. */
  case class MediaMeta(mediaType: String, sizeBytes: Long, sourceId: Long)
  case class MediaRow(doc_id: Long, meta: MediaMeta, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, mediaType: String, sizeBytes: Long,
      featureDim: Int, features: Array[Float])

  /** ===== STUB ===== Deterministic fake codec: real decoders (JPEG/PCM/
    * frame samplers) are not available in this container. Produces a
    * repeatable `dim`-float "embedding" from payload bytes so the
    * pipeline's batching/schema logic is testable end-to-end.
    */
  object StubCodec {
    val FeatureDim = 8
    def decodeAndEmbed(payload: Array[Byte]): Array[Float] = {
      // integer-accumulate, divide once: a float += per byte would make
      // the result depend on accumulation order/length in the last ulps;
      // one exact Long sum per residue class keeps the feature a pure
      // function of the bytes — and losslessly recoverable (round(f·255)
      // = the class byte sum while sums stay below 255·2¹⁶ = 16,711,680,
      // i.e. payloads under ~128 MB per residue class — the float32 ulp
      // doubles past quotient 2¹⁶ and off-by-ones start at 16,711,681;
      // carry the Long sums alongside the floats before going bigger),
      // which is what lets the registered query be oracle-checked
      val sums = new Array[Long](FeatureDim)
      var i = 0
      while (i < payload.length) {
        sums(i % FeatureDim) += (payload(i) & 0xFF)
        i += 1
      }
      Array.tabulate(FeatureDim)(k => sums(k) / 255.0f)
    }
  }

  /** Build a multimodal table from documents: the text bytes stand in for
    * an encoded media payload (binary column + typed metadata struct).
    * Pure column algebra (encode/octet_length/regexp_extract) — stays in
    * whole-stage codegen, and the numeric source id is extracted by
    * pattern instead of a positional `drop(3)` that breaks the day the
    * source prefix changes length.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        struct(
          lit("image/stub").as("mediaType"),
          octet_length(col("text")).cast("long").as("sizeBytes"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("long").as("sourceId")).as("meta"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Batched per-partition decode+embed: groups each partition's rows into
    * fixed-size batches (the GPU-friendly shape), runs the codec per
    * batch, emits typed feature rows. No shuffle, no driver collect.
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // One codec invocation per batch — where a real pipeline would
        // call vectorized/accelerated inference on the whole batch.
        batch.iterator.map { r =>
          val feats = StubCodec.decodeAndEmbed(r.payload)
          MediaFeatures(r.doc_id, r.meta.mediaType, r.meta.sizeBytes,
            feats.length, feats)
        }
      }
    }
  }

  /** Full stubbed decode pipeline output (rows-only check — float feature
    * vectors are pinned by ScalaTest goldens, not portable SQL).
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).toDF().orderBy("doc_id")

  /** Registered-query shape of [[mediaFeatures]]: the feature vector is
    * projected into scalar columns f0..f7 so every column is a sortable
    * scalar — the driver's check sorts all columns and cannot order an
    * `array<float>`. Each fᵢ is the exact byte-class sum recovered from
    * the float feature (`round(f·255)` — lossless for sums < 255·2¹⁶,
    * see [[StubCodec]]), so the whole decode pipeline is oracle-checked
    * against DuckDB's codepoint sums over the ASCII corpus. The typed
    * array API stays [[mediaFeatures]]/[[extractFeatures]].
    */
  def mediaFeaturesFlat(spark: SparkSession, dir: String): DataFrame = {
    val flat = extractFeatures(mediaTable(spark, dir)).toDF()
    val fCols = (0 until StubCodec.FeatureDim).map(i =>
      round(element_at(col("features"), i + 1).cast("double") * 255d)
        .cast("long").as(s"f$i"))
    flat.select(Seq(col("doc_id"), col("mediaType"), col("sizeBytes"),
      col("featureDim")) ++ fCols: _*)
      .orderBy("doc_id")
  }

  /** Media feature vectors in the similarity contract — the bridge from
    * the decode pipeline into the shared vector machinery: (vec_id,
    * embedding) with the stub features L2-normalized to unit vectors,
    * so cosine ≡ dot exactly as for the text `embeddings` table and
    * every ANN/IVF/semantic operator applies unchanged. Zero-norm
    * vectors (empty payloads) pass through as all-zeros rather than
    * dividing by zero — they rank below every real neighbor, the same
    * harmless bottom a zero text embedding gets. Pure column algebra
    * over the typed pipeline's output; the normalize + quantize cost is
    * one scan-side pass, no shuffle.
    */
  def mediaVectors(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(spark, dir)).toDF()
    val norm = sqrt(aggregate(col("features"), lit(0.0d),
      (a, x) => a + x.cast("double") * x.cast("double")))
    feats.select(col("doc_id").as("vec_id"),
      when(norm > lit(0.0), transform(col("features"),
        x => (x.cast("double") / norm).cast("float")))
        .otherwise(col("features")).as("embedding"))
  }

  /** Media ANN — [[mediaVectors]] through the SHARED IVF path
    * ([[Similarity.annIvfFrom]]: same Lloyd quantizer, same integer-dot
    * ranking, same probe selection the text embeddings use), closing
    * the gap where media similarity stopped at perceptual-hash hamming
    * ([[mediaNearDups]]) while all vector machinery was text-only.
    * phash answers "same image up to small pixel edits"; this answers
    * "similar content" in the feature space a real encoder would
    * produce — the two are complementary exactly as exact-dedup vs
    * semantic-dedup on text. Oracle-checked since round 13 (the
    * integer-exact Lloyd + the engine-exact media normalize:
    * [[duckMediaQvCte]]);
    * spec-pinned: planted near-identical payloads co-cluster and the
    * IVF result's recall against the brute-force media truth is
    * measured in OperatorSpec. Runs at the registered text ANN's
    * constants ([[Similarity.AnnQueries]], [[Similarity.IvfCells]], …).
    */
  def mediaAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.annIvfFrom(quantizedMediaVectors(spark, dir))

  /** Brute-force twin of [[mediaAnn]] — the exact media-vector truth the
    * recall spec measures against (the [[Similarity.annBruteForce]]
    * baseline pointed at media vectors).
    */
  private[graft] def mediaAnnBruteForce(spark: SparkSession, dir: String): DataFrame =
    Similarity.annBruteForceFrom(quantizedMediaVectors(spark, dir))

  private def quantizedMediaVectors(spark: SparkSession, dir: String): DataFrame =
    mediaVectors(spark, dir).withColumn("qe",
      graft.functions.VectorFunctions.quantizeCol(col("embedding")))

  /** Media-ANN recall tracker — the [[Similarity.annRecall]] shape
    * (one (method, recall_micros) row) pointed at media vectors, wired
    * into the bench `recall` block beside the six text paths so media
    * recall drift is caught per round like text (r12 verdict ask #7);
    * OperatorSpec keeps the floor assertion.
    */
  def mediaAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = mediaAnnBruteForce(spark, dir)
      .select("query_id", "neighbor_id")
      .transform(Materialize(_))
    val truthN = truth.agg(count(lit(1)).cast("double").as("n_truth"))
    mediaAnn(spark, dir)
      .select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(truthN))
      .select(lit("media_ivf").as("method"),
        // empty truth reports vacuous full recall instead of 0/0 (the
        // ANSI total-function rule every sibling tracker follows)
        when(col("n_truth") > 0,
          floor(col("n_hit") / col("n_truth") * lit(1000000L) + lit(0.5))
            .cast("long"))
          .otherwise(lit(1000000L)).as("recall_micros"))
  }

  /** Resize (the image-pipeline shape): fold a feature vector down to
    * `outDim` by averaging near-even groups (the standard resampling
    * partition `[i·n/out, (i+1)·n/out)` — group sizes differ by at most
    * one even when `outDim` does not divide the input) — the stub
    * stand-in for pixel-space resampling (a real codec would resize
    * before embedding). Vectors shorter than `outDim` pass through with
    * one group per element. Pure per-row work inside the typed pipeline;
    * composes with [[extractFeatures]] without moving data.
    */
  def resizeFeatures(feats: Dataset[MediaFeatures], outDim: Int): Dataset[MediaFeatures] = {
    require(outDim >= 1, s"resizeFeatures: outDim must be >= 1, got $outDim")
    import feats.sparkSession.implicits._
    feats.map { f =>
      val in = f.features
      val n = math.min(outDim, in.length)
      val out = Array.tabulate(n) { i =>
        val from = (i.toLong * in.length / n).toInt
        val until = ((i + 1).toLong * in.length / n).toInt
        var s = 0.0f; var j = from
        while (j < until) { s += in(j); j += 1 }
        s / (until - from)
      }
      f.copy(featureDim = out.length, features = out)
    }
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, frame_bytes: Long, checksum: Long)

  /** Registered frame geometry of [[frameSample]]: frame size in bytes,
    * and the sampling stride in frames.
    */
  val FrameBytes = 64
  val FrameEveryK = 4

  /** Frame sampling (the video-pipeline shape of the multimodal surface):
    * the payload is treated as a sequence of fixed-size "frames"
    * ([[FrameBytes]] each — a real codec would demux actual frames; the
    * stub chunks bytes) and every [[FrameEveryK]]-th frame is decoded. Runs
    * scan-side per partition like [[extractFeatures]]: no shuffle, the
    * payload never moves, and only the sampled frames' derived values are
    * emitted — at 100 TB the k-fold data reduction happens before
    * anything hits the wire.
    */
  def frameSample(media: Dataset[MediaRow]): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    // index math over the payload, no per-frame array copies: skipped
    // frames cost nothing (grouped() would materialize every frame only
    // to discard (FrameEveryK-1)/FrameEveryK of them)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val p = r.payload
        Iterator.range(0, p.length, FrameBytes * FrameEveryK).map { from =>
          val until = math.min(p.length, from + FrameBytes)
          FrameRow(r.doc_id, from / FrameBytes, (until - from).toLong,
            byteSum(p, from, until))
        }
      }
    }
  }

  /** Unsigned byte sum over [from, until) — the checksum contract shared
    * by [[frameSample]] and [[mediaChecksums]] (and their DuckDB oracles:
    * `sum of unicode(c)` over the ASCII corpus).
    */
  private def byteSum(bytes: Array[Byte], from: Int, until: Int): Long = {
    var s = 0L; var j = from
    while (j < until) { s += bytes(j) & 0xFF; j += 1 }
    s
  }

  /** Registered projection of [[frameSample]] (oracle-checkable: the
    * corpus is ASCII, so DuckDB reproduces the sampled-frame byte sums
    * from substrings).
    */
  def frameChecksums(spark: SparkSession, dir: String): DataFrame =
    frameSample(mediaTable(spark, dir)).toDF().orderBy("doc_id", "frame_idx")

  /** Oracle-comparable slice: payload metadata plus an exact integer byte
    * checksum (unsigned byte sum), fully derived on the Spark side from
    * the binary payload column. The corpus is ASCII, so the oracle
    * reproduces the byte sum with per-char codepoints.
    */
  def mediaChecksums(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .map(r => (r.doc_id, r.meta.sizeBytes, byteSum(r.payload, 0, r.payload.length)))
      .toDF("doc_id", "payload_bytes", "byte_checksum")
      .orderBy("doc_id")
  }

  /** aHash-style 64-bit perceptual hash of a (stub-)decoded payload —
    * the classic average-hash recipe (public): partition the byte stream
    * into 64 blocks, bit b = 1 iff block b's mean exceeds the global
    * mean. The comparison is exact integer cross-multiplication
    * (sum_b·n > total·cnt_b — no float means), so the hash is
    * bit-deterministic. Contrast caveat (true of aHash generally): a
    * constant payload has no above-mean block and hashes to 0 — media
    * with no variation all collide, which for dedup is the RIGHT answer.
    * With a real image decoder this computes over luma pixels instead of
    * raw bytes; the Spark-side shape (mapPartitions over binary,
    * 8-byte fingerprint out) is unchanged — the multimodal stub
    * contract.
    */
  def perceptualHash(payload: Array[Byte]): Long = {
    if (payload == null || payload.isEmpty) return 0L
    val n = payload.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val b = ((i.toLong * 64) / n).toInt
      sums(b) += (payload(i) & 0xFF)
      cnts(b) += 1
      i += 1
    }
    var total = 0L
    var j = 0
    while (j < 64) { total += sums(j); j += 1 }
    // sums(b)·n ≤ 255·(n/64)·n and total·cnt ≤ 255n·(n/64): < 2^63 for
    // payloads under ~1.5 GB — far past the per-row contract
    var h = 0L
    var b = 0
    while (b < 64) {
      if (cnts(b) > 0 && sums(b) * n > total * cnts(b)) h |= (1L << b)
      b += 1
    }
    h
  }

  /** Near-duplicate media clusters — the missing modality in the dedup
    * suite: [[perceptualHash]] per payload (one mapPartitions pass,
    * 8 bytes out per row — the binary never reaches an exchange), then
    * the SAME banded hamming clustering the text SimHash path uses
    * ([[Dedup.simhashClustersFromHashes]]: 4×16-bit band buckets catch
    * every pair within hamming 3 by pigeonhole, exact bit_count verify,
    * min-id star election). Oracle-checked since round 13: the hash is
    * pure int64 byte arithmetic, so the SQL twin replays buckets, sums,
    * the sign test, and even the bit-63 two's-complement packing
    * (HUGEINT build, signed collapse); the clustering semantics stay
    * pinned by the shared machinery's specs plus the MultimodalSpec
    * fixture.
    */
  def mediaNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = mediaTable(spark, dir)
      .map(r => (r.doc_id, perceptualHash(r.payload)))
      .toDF("doc_id", "sh")
      .transform(Materialize(_)) // election + map-back both read it
    Dedup.simhashClustersFromHashes(hashed, Dedup.SimhashMaxHamming)
      .withColumnRenamed("simhash", "phash")
  }

  /** 0-based byte `i` of the hex-encoded payload column `hx` — exact on
    * ANY input (the char-unicode spelling the older media oracles use is
    * byte-exact only for ASCII payloads; new oracles use true bytes).
    */
  private def duckByte(i: String): String =
    s"(CAST(strpos('0123456789ABCDEF', substring(hx, 2 * ($i) + 1, 1)) - 1 AS BIGINT) * 16" +
      s" + CAST(strpos('0123456789ABCDEF', substring(hx, 2 * ($i) + 2, 1)) - 1 AS BIGINT))"

  /** The media quantized-vector chain ending in `qv(vec_id, qe)` — the
    * [[mediaVectors]] build replayed: per-residue byte sums → /255 in
    * FLOAT → L2 normalize (index-ordered fold, IEEE sqrt/div, float
    * round) → q6 micros. The same engine-exactness argument as the
    * hashed-BOW oracle.
    */
  private def duckMediaQvCte: String = {
    val dim = StubCodec.FeatureDim
    val q6 = (x: String) =>
      s"CASE WHEN $x >= 0 THEN CAST(floor(CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) " +
        s"ELSE -CAST(floor(-CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END"
    s"""mb AS MATERIALIZED (
       |  SELECT doc_id AS vec_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS nb
       |  FROM documents),
       |mfeat AS (
       |  SELECT vec_id,
       |         list_transform(range(0, $dim), k ->
       |           CAST(CAST(coalesce(list_sum(list_transform(
       |                  range(k, nb, $dim), i -> ${duckByte("i")})), 0) AS REAL)
       |                / CAST(255 AS REAL) AS REAL)) AS f
       |  FROM mb),
       |mnorm AS (
       |  SELECT vec_id, f,
       |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(f, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |           (a, b) -> a + b)) AS nrm
       |  FROM mfeat),
       |qv AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN nrm > 0 THEN
       |           list_transform(f, x -> ${q6("CAST(CAST(x AS DOUBLE) / nrm AS REAL)")})
       |         ELSE list_transform(f, x -> ${q6("x")}) END AS qe
       |  FROM mnorm)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_media_ann" ->
      Similarity.duckAnnIvfSql(Similarity.IvfTrainAll, duckMediaQvCte),
    "q_media_neardups" ->
      s"""WITH mb AS MATERIALIZED (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS nb
        |  FROM documents),
        |pb AS (
        |  SELECT doc_id, (i * 64) // nb AS b, ${duckByte("i")} AS bv, nb
        |  FROM mb, unnest(range(0, nb)) AS u(i)),
        |ps AS (SELECT doc_id, b, max(nb) AS nb, sum(bv) AS s, count(*) AS c
        |       FROM pb GROUP BY doc_id, b),
        |pt AS (SELECT doc_id, sum(s) AS total FROM ps GROUP BY doc_id),
        |phu AS (
        |  SELECT ps.doc_id,
        |         coalesce(sum(CASE WHEN ps.s * ps.nb > pt.total * ps.c
        |           THEN CAST(1 AS HUGEINT) << CAST(ps.b AS INT)
        |           ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS hu
        |  FROM ps JOIN pt USING (doc_id) GROUP BY ps.doc_id),
        |pssh AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(hu - CASE WHEN hu >= 9223372036854775808
        |              THEN CAST(18446744073709551616 AS HUGEINT)
        |              ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS sh
        |  FROM phu),
        |${Dedup.duckSimhashNeighborCtes("p", "pssh")}
        |SELECT d.doc_id, n.cluster_rep, d.sh AS phash
        |FROM pssh d JOIN psnb n USING (sh)
        |ORDER BY d.doc_id""".stripMargin,
    "q_media_features" -> {
      val fCols = (0 until StubCodec.FeatureDim).map { k =>
        s"""CAST(coalesce(list_sum(list_transform(
           |         range(${k + 1}, length(text) + 1, ${StubCodec.FeatureDim}),
           |         i -> unicode(text[i]))), 0) AS BIGINT) AS f$k""".stripMargin
      }.mkString(",\n       ")
      s"""SELECT doc_id, 'image/stub' AS mediaType,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS sizeBytes,
         |       CAST(${StubCodec.FeatureDim} AS INT) AS featureDim,
         |       $fCols
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_frame_samples" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |         CAST(unnest(range(0, CAST(ceil(length(text) / $FrameBytes.0) AS BIGINT))) AS INT)
        |           AS frame_idx,
        |         text
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |       CAST(octet_length(encode(substring(text, frame_idx * $FrameBytes + 1, $FrameBytes))) AS BIGINT)
        |         AS frame_bytes,
        |       CAST(coalesce(list_sum(list_transform(
        |              string_split(substring(text, frame_idx * $FrameBytes + 1, $FrameBytes), ''),
        |              c -> unicode(c))), 0) AS BIGINT) AS checksum
        |FROM f WHERE frame_idx % $FrameEveryK = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_checksums" ->
      """SELECT doc_id, octet_length(encode(text)) AS payload_bytes,
        |       CAST(list_sum(list_transform(string_split(text, ''),
        |            c -> unicode(c))) AS BIGINT) AS byte_checksum
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
