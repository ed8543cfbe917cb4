package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomFunctions
import graft.operators.Decontam

class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  // deterministic pseudo-random digests (golden-ratio stride mixes well
  // and is fully reproducible — no RNG in specs)
  private def digests(from: Int, n: Int): Seq[Long] =
    (from until from + n).map(i => i.toLong * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)

  test("builder bitset is word-identical to the native position formula; members always probe true") {
    val numBits = 1L << 14
    val k = 5
    val members = digests(0, 2000)
    val built = Decontam.bloomFrom(members.toDF("gh"), numBits, k)
      .as[Seq[Long]].head()
    assert(built.length == (numBits / 64).toInt)
    // Scala reference bitset from the SAME static position function the
    // probe expression calls: pins the DataFrame-algebra builder (div /
    // shiftleft / bit_or / dense assembly) to the native formula
    val ref = new Array[Long]((numBits / 64).toInt)
    members.foreach { v =>
      val pos = BloomFunctions.bloomPositions(v, numBits, k)
      (0 until k).foreach { i =>
        val p = pos.getLong(i)
        ref((p >>> 6).toInt) |= 1L << (p & 63L).toInt
      }
    }
    assert(built == ref.toSeq)
    // no false negatives: every inserted digest probes true, via the
    // codegen'd expression on the built filter
    val bloom = Decontam.bloomFrom(members.toDF("gh"), numBits, k)
    val fn = members.toDF("gh").crossJoin(broadcast(bloom))
      .filter(!BloomFunctions.bloomContainsCol(col("bloom"), col("gh"), numBits, k))
      .count()
    assert(fn == 0L)
  }

  test("false-positive rate on disjoint probes tracks the sizing formula; big sizing drives it to zero") {
    // deliberately undersized filter so FP is measurable: n=2000 into
    // 4096 bits at k=3 → load kn/m ≈ 1.46, theory (1−e^−1.46)³ ≈ 0.45
    val members = digests(0, 2000)
    val probes = digests(1 << 20, 10000) // disjoint range
    def fpRate(numBits: Long, k: Int): Double = {
      val bloom = Decontam.bloomFrom(members.toDF("gh"), numBits, k)
      probes.toDF("gh").crossJoin(broadcast(bloom))
        .filter(BloomFunctions.bloomContainsCol(col("bloom"), col("gh"), numBits, k))
        .count().toDouble / probes.size
    }
    val small = fpRate(4096L, 3)
    assert(small > 0.2 && small < 0.7, s"undersized FP rate off the theory band: $small")
    // registered sizing (2^20 bits, k=7) at the same n: theory ~1e-13
    assert(fpRate(Decontam.DefaultBloomBits, Decontam.DefaultBloomK) == 0.0)
  }

  test("empty benchmark yields the all-zero filter and a clean report") {
    val empty = Seq.empty[Long].toDF("gh")
    val words = Decontam.bloomFrom(empty, 1L << 10, 4).as[Seq[Long]].head()
    assert(words.length == 16 && words.forall(_ == 0L))
    val hit = digests(0, 100).toDF("gh")
      .crossJoin(broadcast(Decontam.bloomFrom(empty, 1L << 10, 4)))
      .filter(BloomFunctions.bloomContainsCol(col("bloom"), col("gh"), 1L << 10, 4))
      .count()
    assert(hit == 0L)
  }

  test("bloom decontam report: exact hits are a subset per doc, zero FP margin at registered sizing") {
    val exact = Decontam.contamination(spark, sf)
      .select("doc_id", "n_ngrams", "n_overlap", "contaminated")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1).toSeq
    val bloom = Decontam.bloomContamination(spark, sf)
      .select("doc_id", "n_ngrams", "n_overlap", "contaminated")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1).toSeq
    assert(exact.size == bloom.size)
    exact.zip(bloom).foreach { case ((id1, ng1, ov1, c1), (id2, ng2, ov2, c2)) =>
      assert(id1 == id2 && ng1 == ng2)
      // one-sided error: the sketch can only ADD hits, never lose one
      assert(ov2 >= ov1, s"doc $id1: bloom lost exact hits ($ov2 < $ov1)")
      assert(c2 >= c1, s"doc $id1: bloom cleared an exact-contaminated doc")
    }
    // at the registered sizing (~10⁻¹³ FP odds per probe) the sketch and
    // the exact join agree EXACTLY on the sf corpus — the margin is zero,
    // deterministically (same digests, same filter every run)
    assert(exact == bloom)
  }

  test("broadcast probe equals the literal probe verdict-for-verdict; gates agree across the switch") {
    // members + disjoint probes through BOTH expressions on the same
    // filter: verdicts must be identical bit-for-bit (one formula,
    // bloomContains vs bloomContainsWords)
    val numBits = 1L << 14
    val k = 5
    val members = digests(0, 2000)
    val probes = members ++ digests(1 << 20, 5000) // members + disjoint
    val words = Decontam.bloomFrom(members.toDF("gh"), numBits, k)
      .as[Seq[Long]].head()
    val bc = spark.sparkContext.broadcast(words.toArray)
    val both = probes.toDF("gh")
      .crossJoin(broadcast(Decontam.bloomFrom(members.toDF("gh"), numBits, k)))
      .select(
        BloomFunctions.bloomContainsCol(col("bloom"), col("gh"), numBits, k).as("lit"),
        BloomFunctions.bloomContainsBroadcastCol(bc, col("gh"), numBits, k).as("bcast"))
      .as[(Boolean, Boolean)].collect()
    assert(both.length == probes.size)
    assert(both.forall(p => p._1 == p._2),
      s"literal and broadcast probes diverged on ${both.count(p => p._1 != p._2)} digests")
    assert(both.count(_._1) >= members.size, "members must all probe true on both paths")

    // the streaming gate keeps the same survivor set at the registered
    // 2^20 sizing and at 2^25 bits (FP-free here at n=10 grams either way)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val item = (1 to 12).map(i => s"w$i").mkString(" ")
    val texts = Seq(
      (0L, item),                                                    // contaminated: DROP
      (1L, "w1 w2 w3 w4 fresh1 fresh2 fresh3 fresh4 fresh5 fresh6"), // 0.25 >= 0.1: DROP
      (2L, "totally clean unrelated document body here"))            // PASS
    val bench = (1 to 10).map(i => s"w$i w${i + 1} w${i + 2}").toDF("shingle")
    def gateKept(numBits: Long): Set[Long] = {
      val s = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.StreamingFeatures.bloomDecontamGateStream(
        s.toDF.toDF("doc_id", "text"), bench, numBits = numBits)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"bcgate$numBits").start()
      s.addData(texts: _*)
      q.processAllAvailable()
      q.stop()
      spark.table(s"bcgate$numBits").select("doc_id").as[Long].collect().toSet
    }
    val litKept = gateKept(Decontam.DefaultBloomBits) // registered sizing
    val bcKept = gateKept(1L << 25)                   // 2^25 bits
    assert(litKept == Set(2L) && bcKept == Set(2L),
      s"gate verdicts must agree across the two sizings: $litKept vs $bcKept")
  }

  test("fused shingle-hits equals the algebra census per doc, both digest families") {
    // the r16 fused expression (one compiled pass: byte-span windows,
    // UTF8String-set dedup, in-loop digest+probe) must reproduce the
    // interpreted array_distinct(transform(...)) + filter(probe) algebra
    // it replaced, COUNT for COUNT — on the sf corpus plus the edge
    // cases the algebra's null/short/empty-token/non-ASCII semantics pin
    import graft.functions.TextHashes
    import graft.operators.Dedup
    val n = 3
    val numBits = 1L << 14
    val k = 5
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .unionAll(Seq(
        (900001L, null.asInstanceOf[String]),   // null text → no shingles
        (900002L, ""),                          // 1 empty token
        (900003L, "a b"),                       // below n tokens
        (900004L, "a  b c  d e f"),             // empty tokens from double spaces
        (900005L, "héllo wörld naïve café test tökens here now"), // non-ASCII fold path
        (900006L, "dup dup dup dup dup dup dup dup")) // 1 distinct shingle
        .toDF("doc_id", "text"))
    val benchShingles = graft.Tables.documents(spark, sf).limit(40)
      .select(explode(Dedup.shingleArray(col("text"), n)).as("shingle"))
      .distinct()
    Seq(
      (BloomFunctions.FamilyFingerprint62,
        (s: org.apache.spark.sql.Column) => TextHashes.fingerprint62(s)),
      (BloomFunctions.FamilyXxhash64,
        (s: org.apache.spark.sql.Column) => xxhash64(s))
    ).foreach { case (family, dig) =>
      val words = Decontam.bloomFrom(
        benchShingles.select(dig(col("shingle")).as("gh")), numBits, k)
        .as[Seq[Long]].head()
      val wlit = typedLit(words)
      val packed = BloomFunctions.shingleHitsCol(
        spark, col("text"), n, words.toArray, numBits, k, family)
      // fused: null text packs NULL (the gate's `when` folds it to 0.0) —
      // normalize to (0, 0) for the count compare
      val got = docs
        .select(col("doc_id"),
          coalesce(shiftrightunsigned(packed, 32), lit(0L)).as("total"),
          coalesce(packed.bitwiseAND(lit(0xFFFFFFFFL)), lit(0L)).as("hits"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val sh = Dedup.shingleArray(col("text"), n)
      val want = docs
        .select(col("doc_id"), size(sh).cast("long").as("total"),
          size(filter(sh,
            s => BloomFunctions.bloomContainsCol(wlit, dig(s), numBits, k)))
            .cast("long").as("hits"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, s"family=$family: fused census diverged from algebra " +
        s"(first diff: ${got.zip(want).find(p => p._1 != p._2)})")
      // hits are non-trivial: the bench shingles came from the corpus
      assert(got.exists(_._3 > 0), s"family=$family: no hits — vacuous compare")
    }
  }

  test("modulus demo form equals the external form fed the modulus-selected n-grams") {
    val sh = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .filter("size(w) >= 3")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))) AS shingles")
    val bench = sh.filter(s"doc_id % ${Decontam.DefaultBenchModulus} = 0")
      .selectExpr("explode(shingles) AS shingle")
    val demo = Decontam.bloomContamination(spark, sf).collect().toSeq
    val ext = Decontam.bloomContaminationAgainst(spark, sf, bench).collect().toSeq
    assert(demo == ext)
  }
}
