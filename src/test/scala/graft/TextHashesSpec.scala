package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHashes

class TextHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fingerprint62 golden values and codegen/eval agreement") {
    // two portable folds (cp%256, mod 2^31) packed h131*2^31 + h31
    val h31 = (97L * 31 + 98) * 31 + 99
    val h131 = (97L * 131 + 98) * 131 + 99
    val expected = h131 * 2147483648L + h31
    val viaDf = Seq("abc").toDF("s")
      .select(TextHashes.fingerprint62($"s")).as[Long].head()
    assert(viaDf == expected)
    // eval path (no codegen) must agree with the codegen'd path
    val rows = Seq("", "a", "hello world", "éü世界").toDF("s")
    val gen = rows.select(TextHashes.fingerprint62($"s")).as[Long].collect().toSeq
    val eval = rows.collect().map(r =>
      TextHashes.fingerprint62(org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))).toSeq
    assert(gen == eval)
  }

  test("portable_fold native == the winnow column-algebra fold, incl. non-ASCII") {
    // the reference model is THE repo-wide portable fold spelling
    // (TextAnalytics winnow token hash): any divergence silently re-keys
    // every minhash signature and simhash pattern
    def algebra(c: org.apache.spark.sql.Column) =
      aggregate(
        transform(split(c, ""), ch => pmod(ascii(ch), lit(256)).cast("long")),
        lit(0L), (h, x) => pmod(h * lit(31L) + x, lit(2147483648L)))
    val fixtures = Seq(
      "", "a", "ab c", "  double  spaces ", "hello world",
      "\u00e9\u00fc\u4e16\u754c mixed", "a\ud83d\udc99b", // supplementary plane
      "tab\tand\nnewline", (1 to 300).map(_ => "xyz").mkString(" "))
    val df = fixtures.toDF("s")
    val native = df.select(TextHashes.portableFoldCol($"s")).as[Long].collect().toSeq
    val ref = df.select(algebra($"s")).as[Long].collect().toSeq
    assert(native == ref, "native fold diverged from the column-algebra model")
    // interpreted eval agrees with the codegen path
    val evalSide = fixtures.map(s => TextHashes.portableFold(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 31))
    assert(evalSide == native)
  }

  test("simhash62: identical token multisets hash equal; near sets are close") {
    val df = Seq(
      ("a b c d e f g h i j", "a b c d e f g h i j"),
      ("a b c d e f g h i j", "a b c d e f g h i k")).toDF("s1", "s2")
      .select(
        TextHashes.simhash62(split($"s1", " ")).as("h1"),
        TextHashes.simhash62(split($"s2", " ")).as("h2"))
      .withColumn("ham", bit_count($"h1".bitwiseXOR($"h2")))
      .select("ham").as[Int].collect()
    assert(df(0) == 0)
    assert(df(1) < 31, "one-token change must move few of the 62 bits")
    // fingerprints stay inside the 62-bit range (top 2 bits clear)
    val h = Seq("some tokens here").toDF("s")
      .select(TextHashes.simhash62(split($"s", " "))).as[Long].head()
    assert(h >= 0 && h < (1L << 62))
  }

  test("ngram_hashes64 is byte-identical to the column-algebra formula it replaced") {
    // the reference model: xxhash64 of each n-token window string — the
    // shape the operators used before the native expression; digests
    // MUST match exactly or every dup-gram census silently re-keys
    def algebra(n: Int) = {
      val w = split($"s", " ")
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => xxhash64(concat_ws(" ", slice(w, i + 1, lit(n))))))
        .otherwise(array().cast("array<long>"))
    }
    val rng = new scala.util.Random(42)
    val alphabet = "ab xy "  // space-heavy: runs of spaces appear often
    val adversarial = Seq(
      "", " ", "  ", "a", "a b", "a  b", " leading", "trailing ",
      "éü 世界 tokens mixed in éü 世界 tokens",
      "exactly ten tokens here so one window only fits here now")
    val random = (1 to 60).map(_ =>
      (1 to rng.nextInt(80)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    val df = (adversarial ++ random).toDF("s")
    for (n <- Seq(1, 2, 3, 10)) {
      val native = df.select(
        coalesce(TextHashes.ngramHashes64Col($"s", n), array().cast("array<long>")))
        .as[Seq[Long]].collect().toSeq
      val ref = df.select(algebra(n)).as[Seq[Long]].collect().toSeq
      assert(native == ref, s"n=$n: native digests diverged from the algebra model")
    }
    // interpreted eval path agrees with the codegen'd path
    val evalSide = (adversarial ++ random).map { s =>
      val a = TextHashes.ngramHashes64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 3)
      (0 until a.numElements()).map(a.getLong)
    }
    val genSide = df.select(TextHashes.ngramHashes64Col($"s", 3))
      .as[Seq[Long]].collect().toSeq
    assert(evalSide == genSide)
  }

  test("sorted_contains agrees with array_contains on sorted inputs, eval and codegen") {
    // the reference model is array_contains itself — the linear scan the
    // binary search replaces in the streaming census gates; any
    // disagreement on a sorted null-free array is a gate verdict flip
    val rng = new scala.util.Random(7)
    val cases: Seq[(Seq[Long], Long)] =
      Seq(
        (Seq.empty[Long], 0L),                      // empty census
        (Seq(5L), 5L), (Seq(5L), 4L), (Seq(5L), 6L), // singleton hit/miss
        (Seq(Long.MinValue, 0L, Long.MaxValue), Long.MinValue),
        (Seq(Long.MinValue, 0L, Long.MaxValue), Long.MaxValue),
        (Seq(Long.MinValue, 0L, Long.MaxValue), -1L)) ++
      (1 to 200).map { _ =>
        val arr = (1 to rng.nextInt(40)).map(_ => rng.nextLong()).distinct.sorted
        // probe an in-set value half the time, a random value otherwise
        val v = if (arr.nonEmpty && rng.nextBoolean()) arr(rng.nextInt(arr.size))
                else rng.nextLong()
        (arr, v)
      }
    val df = cases.toDF("arr", "v")
    val got = df.select(
      TextHashes.sortedContainsCol($"arr", $"v"),
      array_contains($"arr", $"v")).as[(Boolean, Boolean)].collect()
    got.zip(cases).foreach { case ((native, ref), c) =>
      assert(native == ref, s"sorted_contains diverged on $c")
    }
    // interpreted eval agrees with the dataframe (codegen) path
    cases.foreach { case (arr, v) =>
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(arr.toArray)
      assert(TextHashes.sortedContains(ad, v) == arr.contains(v), s"eval diverged on ($arr, $v)")
    }
  }

  test("SQL registration exposes the functions to spark.sql") {
    val n = TestSpark.withExtensions(_.sql(
      "SELECT fingerprint62('abc') AS f, simhash62(array('a','b')) AS s")
      .as[(Long, Long)].head())
    val h31 = (97L * 31 + 98) * 31 + 99
    val h131 = (97L * 131 + 98) * 131 + 99
    assert(n._1 == h131 * 2147483648L + h31)
  }
}
