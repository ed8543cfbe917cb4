package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomFunctions, TextHashes}
import graft.operators.{Artifacts, Bpe, Decontam, Dsir, Perplexity, Similarity, TextAnalytics}

/** Pins the persisted-artifact contracts: save → load round-trips are
  * bit-exact, loaded artifacts drive consumers identically to the
  * in-session frames that produced them, and a hash-family version
  * mismatch REFUSES to load (the silent-false-negative failure the
  * BloomFunctions scaladoc required persistence to guard against).
  */
class ArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloom filter: save/load round-trips words and probe decisions exactly") {
    val numBits = 1L << 16
    val k = 5
    val digests = Seq(11L, 22L, 33L, 44L, 1234567890123L).toDF("gh")
    val bloom = Decontam.bloomFrom(digests, numBits, k)
    val dir = Files.createTempDirectory("bloomart").toString + "/f"
    Artifacts.saveBloom(bloom, dir, numBits, k)
    val (loaded, nb2, k2) = Artifacts.loadBloom(spark, dir)
    assert(nb2 == numBits && k2 == k)
    // words bit-exact
    val w1 = bloom.head().getSeq[Long](0)
    val w2 = loaded.head().getSeq[Long](0)
    assert(w1 == w2)
    // probe decisions identical for members and non-members
    val probes = Seq(11L, 22L, 99L, 777L, 1234567890123L).toDF("gh")
    def hits(b: org.apache.spark.sql.DataFrame): Seq[Long] =
      probes.crossJoin(broadcast(b))
        .filter(BloomFunctions.bloomContainsCol(col("bloom"), col("gh"), numBits, k))
        .select("gh").as[Long].collect().sorted.toSeq
    assert(hits(bloom) == hits(loaded))
    // no false negative possible: every inserted digest probes true
    assert(hits(loaded).toSet.intersect(Set(11L, 22L, 1234567890123L))
      == Set(11L, 22L, 1234567890123L))
  }

  test("bloom filter: a foreign hash-family version refuses to load") {
    val dir = Files.createTempDirectory("bloomver").toString + "/f"
    val bloom = Decontam.bloomFrom(Seq(1L, 2L).toDF("gh"), 1L << 10, 3)
    // persist with a TAMPERED version stamp (what an old build's file
    // looks like to this build)
    bloom.select(col("bloom"),
      lit(TextHashes.HashFamilyVersion - 1).as("hash_family_version"),
      lit(1L << 10).as("num_bits"), lit(3).as("k"))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalStateException](Artifacts.loadBloom(spark, dir))
    assert(e.getMessage.contains("hash family"))
  }

  test("codebook: assignment against the loaded artifact is bit-identical") {
    val emb = graft.Tables.embeddings(spark, sf)
      .withColumn("qe", graft.functions.VectorFunctions.quantizeCol(col("embedding")))
      .select("vec_id", "qe")
    val (cents, assigned) = Similarity.ivfAssign(spark, sf, nCells = 8,
      lloydIters = 2)
    val dir = Files.createTempDirectory("cbart").toString + "/cb"
    Artifacts.saveCodebook(cents, dir)
    val loaded = Artifacts.loadCodebook(spark, dir)
    val fresh = assigned.select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reassigned = Similarity.assignWithCodebook(emb, loaded)
      .select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reassigned == fresh)
  }

  test("codebook: version mismatch refuses to load") {
    val dir = Files.createTempDirectory("cbver").toString + "/cb"
    Seq((0, Seq(1L, 2L))).toDF("cell", "qc")
      .withColumn("hash_family_version", lit(TextHashes.HashFamilyVersion + 1))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalStateException](Artifacts.loadCodebook(spark, dir))
    assert(e.getMessage.contains("hash family"))
  }

  // ---- round-14 model artifacts: the four frozen models the streaming
  // gates consume, each with the same round-trip + refusal contract ----

  test("bpe merges: load returns the exact learned application order; refusal on stamp") {
    val merges = Bpe.learnMerges(spark, sf, nMerges = 4)
    val dir = Files.createTempDirectory("bpeart").toString + "/m"
    Artifacts.saveBpeMerges(merges, dir)
    assert(Artifacts.loadBpeMerges(spark, dir)
      == Bpe.mergePairs(spark, sf, nMerges = 4))

    val bad = Files.createTempDirectory("bpever").toString + "/m"
    merges.withColumn("hash_family_version",
      lit(TextHashes.HashFamilyVersion - 1))
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalStateException](Artifacts.loadBpeMerges(spark, bad))
    assert(e.getMessage.contains("hash family"))

    // a rank-gapped table (half a model) must refuse to persist
    val gapped = merges.filter(col("merge_rank") =!= 2)
    intercept[IllegalArgumentException](Artifacts.saveBpeMerges(gapped, dir))

    // duplicate ranks compensated by a gap pass count == max but make
    // the application order nondeterministic — must also refuse (r14
    // advice: the density check alone accepted {1, 1, 3, 4})
    val duped = merges
      .withColumn("merge_rank",
        when(col("merge_rank") === 2, lit(1)).otherwise(col("merge_rank")))
    intercept[IllegalArgumentException](Artifacts.saveBpeMerges(duped, dir))

    // ranks dense but starting at 0: count == distinct == max + 1 slips
    // a max-only guard too; min must be pinned to 1
    val shifted = merges.withColumn("merge_rank", col("merge_rank") - 1)
    intercept[IllegalArgumentException](Artifacts.saveBpeMerges(shifted, dir))
  }

  test("dsir model: loaded frame drives the gate identically to the fresh one") {
    val fresh = Dsir.logRatios(spark, sf)
    val dir = Files.createTempDirectory("dsirart").toString + "/m"
    Artifacts.saveDsirModel(fresh, dir, Dsir.DefaultNBuckets)
    val (loaded, nb) = Artifacts.loadDsirModel(spark, dir)
    assert(nb == Dsir.DefaultNBuckets)
    assert(loaded.as[(Long, Long)].collect().toSet
      == fresh.as[(Long, Long)].collect().toSet)

    // gate lockstep: same docs, same threshold, fresh vs loaded model
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def pass(model: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.streaming.StreamingFeatures.dsirGateStream(docs, model,
        minWeightMicros = 0L, nBuckets = nb)
        .select("doc_id").as[Long].collect().toSet
    assert(pass(loaded) == pass(fresh))

    val bad = Files.createTempDirectory("dsirver").toString + "/m"
    fresh.withColumn("hash_family_version",
      lit(TextHashes.HashFamilyVersion + 7))
      .withColumn("n_buckets", lit(Dsir.DefaultNBuckets))
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalStateException](Artifacts.loadDsirModel(spark, bad))
    assert(e.getMessage.contains("hash family"))
  }

  test("perplexity model: order stamp gates the load; round-trip is exact") {
    val fresh = Perplexity.referenceNlpBigram(spark, sf)
    val dir = Files.createTempDirectory("pplart").toString + "/m"
    Artifacts.savePerplexityModel(fresh, dir,
      Perplexity.DefaultBigramBuckets, order = 2)
    val (loaded, nb) = Artifacts.loadPerplexityModel(spark, dir, expectOrder = 2)
    assert(nb == Perplexity.DefaultBigramBuckets)
    assert(loaded.as[(Long, Long)].collect().toSet
      == fresh.as[(Long, Long)].collect().toSet)

    // an order-2 artifact must refuse an order-1 consumer
    val e1 = intercept[IllegalStateException](
      Artifacts.loadPerplexityModel(spark, dir, expectOrder = 1))
    assert(e1.getMessage.contains("order"))

    val bad = Files.createTempDirectory("pplver").toString + "/m"
    fresh.withColumn("hash_family_version",
      lit(TextHashes.HashFamilyVersion - 1))
      .withColumn("n_buckets", lit(Perplexity.DefaultBigramBuckets))
      .withColumn("model_order", lit(2))
      .write.mode("overwrite").parquet(bad)
    val e2 = intercept[IllegalStateException](
      Artifacts.loadPerplexityModel(spark, bad, expectOrder = 2))
    assert(e2.getMessage.contains("hash family"))
  }

  test("winnow census: loaded census drives the gate identically; refusal on stamp") {
    val fps = TextAnalytics.winnowFingerprints(spark, sf)
    val dir = Files.createTempDirectory("winart").toString + "/c"
    Artifacts.saveWinnowCensus(fps, dir,
      TextAnalytics.WinnowK, TextAnalytics.WinnowW)
    val (loaded, k, w) = Artifacts.loadWinnowCensus(spark, dir)
    assert(k == TextAnalytics.WinnowK && w == TextAnalytics.WinnowW)
    assert(loaded.as[Long].collect().toSet
      == fps.select("fp").as[Long].collect().toSet)

    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def pass(census: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.streaming.StreamingFeatures.winnowGateStream(docs, census, k, w)
        .select("doc_id").as[Long].collect().toSet
    assert(pass(loaded) == pass(fps.select("fp")))

    val bad = Files.createTempDirectory("winver").toString + "/c"
    fps.select("fp")
      .withColumn("hash_family_version", lit(TextHashes.HashFamilyVersion + 1))
      .withColumn("k", lit(k)).withColumn("w", lit(w))
      .write.mode("overwrite").parquet(bad)
    val e = intercept[IllegalStateException](Artifacts.loadWinnowCensus(spark, bad))
    assert(e.getMessage.contains("hash family"))
  }

  test("ivf frozen assignment query equals the in-session assignment frame") {
    val viaDisk = Similarity.ivfAssignmentFrozen(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val inSession = Similarity.ivfAssignment(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaDisk == inSession)
  }
}
