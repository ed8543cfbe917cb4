package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomFunctions => B, BpeSegment, TextHashes => T, VectorFunctions => V}

/** Codegen-versus-interpreted lockstep for every native expression in
  * `graft.functions`: each case builds its column through the public
  * `*Col` factory, evaluates it once under whole-stage codegen (with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` and no fallback) and once
  * with `spark.sql.codegen.wholeStage=false` plus
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` (every projection runs
  * `Expression.eval`), and asserts the two agree row for row. A frozen
  * order-free digest per case pins the outputs themselves, so a kernel
  * change that moves both paths together still fails here.
  *
  * Inputs: named edge cases (null, empty, leading/trailing/doubled
  * spaces, 2-/3-/4-byte UTF-8 with surrogate pairs, control bytes, a
  * 10⁵-character token, repeated grams) plus seeded ScalaCheck strings
  * (raw generators sampled with fixed seeds, as in
  * [[SessionPropertySpec]]). The broadcast kernels probe a census or
  * Bloom filter built from the same inputs.
  */
class NativeLockstepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val named: Seq[(String, String)] = Seq(
    "null" -> null,
    "empty" -> "",
    "one space" -> " ",
    "one token" -> "cat",
    "leading spaces" -> "  the cat sat on the mat",
    "trailing spaces" -> "the cat sat on the mat  ",
    "doubled spaces" -> "the  cat  sat  on  the  mat",
    "multibyte" -> ("héllo wörld 中文 日本語 " +
      "😀 𝄞clef a😀b naïve café €uro"),
    "control bytes" -> "a\u0001b c\u0000d \t e\n f\u001f g\u007f h",
    "long token" -> "abcdefghé€" * 10000,
    "repeated grams" -> "the cat sat the cat sat the cat sat on the mat the cat sat",
    "punctuation" -> "wait..... what... #x ## ok. The end... and of a")

  private val vocab = Vector("the", "cat", "sat", "on", "mat", "a", "of", "and",
    "Tea", "x1", "héllo", "wörld", "café", "中文",
    "€uro", "日本語", "😀", "𝄞clef",
    "a😀b", "...", "#tag", "dup", "\u0001", "")
  private val seps = Vector(" ", " ", " ", " ", "  ", "\t", "\n")

  private val textGen: Gen[String] = {
    val mixed = for {
      n <- Gen.choose(0, 40)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
      between <- Gen.listOfN(n, Gen.oneOf(seps))
      lead <- Gen.oneOf("", "", " ", "  ")
      trail <- Gen.oneOf("", "", " ", "  ")
    } yield lead + toks.zip(between).map { case (t, s) => t + s }.mkString.trim + trail
    val repeated = for {
      phrase <- Gen.listOfN(3, Gen.oneOf(vocab)).map(_.mkString(" "))
      times <- Gen.choose(2, 6)
    } yield Seq.fill(times)(phrase).mkString(" ")
    Gen.frequency(4 -> mixed, 1 -> repeated)
  }

  private val inputs: Seq[String] = named.map(_._2) ++
    (0 until 200).flatMap(i => textGen.apply(Gen.Parameters.default, Seed(i.toLong)))
  private val texts: Seq[String] = inputs.filter(_ != null)

  private lazy val docs: DataFrame =
    // an RDD source, not a local relation: the optimizer would otherwise
    // fold every projection over a local relation through eval while
    // planning, and both runs would be the interpreted one
    spark.sparkContext.parallelize(inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }, 4)
      .toDF("id", "text")

  // ------------------------------------------------ models from the inputs

  private def utf8(s: String) = UTF8String.fromString(s)
  private def xx(s: String): Long = {
    val u = utf8(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }
  private def sortedSet(xs: Iterable[Long]): Array[Long] = xs.toArray.distinct.sorted
  private def bloomWords(digests: Iterable[Long], numBits: Long, k: Int): Array[Long] = {
    val words = new Array[Long]((numBits / 64).toInt)
    digests.foreach { d =>
      val ps = B.bloomPositions(d, numBits, k)
      (0 until k).foreach { i =>
        val p = ps.getLong(i)
        words((p >>> 6).toInt) |= 1L << (p & 63L).toInt
      }
    }
    words
  }
  // every other text feeds the models, so the probes see members and strangers
  private def half: Seq[String] = texts.zipWithIndex.collect { case (s, i) if i % 2 == 0 => s }
  private def shingles(n: Int): Seq[String] = half.flatMap { s =>
    val toks = s.split(" ", -1)
    if (toks.length < n) Nil else toks.sliding(n).map(_.mkString(" ")).toSeq
  }.distinct

  private val stopwords = Seq("the", "and", "of", "a", "on")
  private val bloomBits = 1L << 12
  private val bloomK = 5

  private lazy val winnowFps = half.flatMap(s => T.winnowFps(utf8(s), 2, 3))
  private lazy val ngramCensus = sortedSet(half.flatMap { s =>
    val a = T.ngramHashes64(utf8(s), 2)
    (0 until a.numElements()).map(a.getLong)
  })
  private lazy val floats: Column = transform(T.ngramHashes64Col(col("text"), 1),
    h => ((pmod(h, lit(2001L)) - 1000) / 997.0).cast("float"))
  private lazy val cents = typedLit(Seq(
    (0, Seq(1000000L, -500000L, 250000L)), (1, Seq(-1000000L, 0L, 999999L)),
    (2, Seq(3L, 3L, 3L)), (3, Seq(0L, 1000000L, -1000000L))))
  private val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t", "c" -> "at",
    "é" -> "€", "a" -> "😀", "a😀" -> "b", "." -> ".")

  private def shingleHits(numBits: Long, family: Int): Column = {
    val digest: String => Long =
      if (family == B.FamilyFingerprint62) s => T.fingerprint62(utf8(s)) else xx
    B.shingleHitsCol(spark, col("text"), 2,
      bloomWords(shingles(2).map(digest), numBits, bloomK), numBits, bloomK, family)
  }

  /** One case per native expression (some per variant), each built
    * through its `*Col` factory over `text`.
    */
  private val cases: Seq[(String, () => Column)] = {
    def text = col("text")
    def c(name: String)(build: => Column) = name -> (() => build)
    Seq(
      c("portable_fold")(T.portableFoldCol(text, 131L)),
      c("fingerprint62")(T.fingerprint62(text)),
      c("simhash62")(T.simhash62(split(text, " "))),
      c("bigram_score")(T.bigramScoreCol(text)),
      c("minhash_sigs")(T.minhashSigsCol(
        transform(T.ngramHashes64Col(text, 2), h => shiftrightunsigned(h, 33)), 8)),
      c("ngram_hashes64")(T.ngramHashes64Col(text, 3)),
      c("ngram_rep_stats")(T.ngramRepStatsCol(text, 2)),
      c("ngram_rep_stats_multi")(T.ngramRepStatsMultiCol(text, Seq(2, 3, 4))),
      c("ngram_rep_stats_multi unpushable")(
        T.ngramRepStatsMultiCol(text, Seq(1, 3), pushable = false)),
      c("gopher_stats")(T.gopherStatsCol(text, stopwords)),
      c("gopher_stats unpushable")(T.gopherStatsCol(text, stopwords, pushable = false)),
      c("winnow_select")(T.winnowSelectCol(text, 2, 3)),
      c("bucket_score_sum order 1")(T.bucketScoreSumCol(text,
        Array.tabulate(61)(i => (i * 7919L) % 1000 - 500), 1, 40503L)),
      c("bucket_score_sum order 2")(T.bucketScoreSumCol(text,
        Array.tabulate(97)(i => (i * 104729L) % 777), 2, 40503L, 1000003L)),
      c("winnow_census_hits")(T.winnowCensusHitsCol(text, 2, 3,
        spark.sparkContext.broadcast(sortedSet(winnowFps)))),
      c("winnow_bloom_hits")(T.winnowBloomHitsCol(text, 2, 3,
        spark.sparkContext.broadcast(bloomWords(winnowFps, bloomBits, bloomK)),
        bloomBits, bloomK)),
      c("span_scrub")(T.spanScrubCol(text, 2, spark.sparkContext.broadcast(ngramCensus))),
      c("ngram_census_stats")(
        T.ngramCensusStatsCol(text, 2, spark.sparkContext.broadcast(ngramCensus))),
      c("quality_verdict")(T.qualityVerdictCol(text, 3, 0.05, stopwords)),
      c("shingle_set_hits")(T.shingleSetHitsCol(text, 2, shingles(2))),
      c("sorted_contains")(T.sortedContainsCol(sort_array(T.ngramHashes64Col(text, 1)),
        xxhash64(substring_index(text, " ", 2)))),
      c("bloom_positions")(B.bloomPositionsCol(xxhash64(text), bloomBits, bloomK)),
      c("bloom_contains")(B.bloomContainsCol(
        typedLit(bloomWords(half.map(xx), bloomBits, bloomK).toSeq),
        xxhash64(text), bloomBits, bloomK)),
      c("bloom_contains_bc")(B.bloomContainsBroadcastCol(
        spark.sparkContext.broadcast(bloomWords(half.map(xx), bloomBits, bloomK)),
        xxhash64(text), bloomBits, bloomK)),
      c("dense_bitset")(B.denseBitsetCol(slice(transform(T.ngramHashes64Col(text, 1),
        (h, i) => struct(i.cast("long"), h)), 1, 64), 64)),
      c("shingle_hits fingerprint62")(shingleHits(bloomBits, B.FamilyFingerprint62)),
      c("shingle_hits xxhash64")(shingleHits(bloomBits, B.FamilyXxhash64)),
      c("shingle_hits 2^25 bits")(shingleHits(1L << 25, B.FamilyXxhash64)),
      c("quant_dot")(V.quantDot(floats, reverse(floats))),
      c("quantize_vec")(V.quantizeCol(floats)),
      c("long_dot")(V.longDot(V.quantizeCol(floats), V.quantizeCol(reverse(floats)))),
      c("lsh_bits")(V.lshKeyCol(floats, 8, 4)),
      c("nearest_cells")(V.nearestCellsCol(V.quantizeCol(floats), cents, 3)),
      c("bpe_token_count")(BpeSegment.bpeTokenCountCol(text, merges)))
  }

  /** Order-free digests of each case's output over [[inputs]], computed
    * on the kernels as they stood before the scaffold refactor.
    */
  private val frozen: Map[String, String] = Map(
    "portable_fold" -> "b541d45e98abdf25",
    "fingerprint62" -> "55ecade87a581653",
    "simhash62" -> "c48e254f989ea4a7",
    "bigram_score" -> "b86c94f64624efdf",
    "minhash_sigs" -> "b416136a6e3bea60",
    "ngram_hashes64" -> "a7c4fa94f8645cc5",
    "ngram_rep_stats" -> "7a21a1b46c7045be",
    "ngram_rep_stats_multi" -> "dafc519ae2d1733b",
    "ngram_rep_stats_multi unpushable" -> "5d3ddccf88ece7f1",
    "gopher_stats" -> "6eec9bf9c65a2ccb",
    "gopher_stats unpushable" -> "6eec9bf9c65a2ccb",
    "winnow_select" -> "6c2be0b592d99613",
    "bucket_score_sum order 1" -> "f66fbceea5680852",
    "bucket_score_sum order 2" -> "4270679d86b85971",
    "winnow_census_hits" -> "3936c249db1b27a5",
    "winnow_bloom_hits" -> "07e8593be97ec8d8",
    "span_scrub" -> "bda61e05237d0beb",
    "ngram_census_stats" -> "3def4f84ce19b3f7",
    "quality_verdict" -> "d1aba29761247cfc",
    "shingle_set_hits" -> "01f09bb97a65885c",
    "sorted_contains" -> "12e4b5bfbba6093c",
    "bloom_positions" -> "e5120d80289d1a32",
    "bloom_contains" -> "1f6a80ff0efb680e",
    "bloom_contains_bc" -> "1f6a80ff0efb680e",
    "dense_bitset" -> "dcccf115a8b55ea7",
    "shingle_hits fingerprint62" -> "00ef49f4943c5275",
    "shingle_hits xxhash64" -> "4304f38882a27600",
    "shingle_hits 2^25 bits" -> "01f09bb97a65885c",
    "quant_dot" -> "bcb70a6a8d310b69",
    "quantize_vec" -> "06a56cdb85de7bb8",
    "long_dot" -> "bcb70a6a8d310b69",
    "lsh_bits" -> "34b9e55fe17b8fc2",
    "nearest_cells" -> "ad66440beee063b6",
    "bpe_token_count" -> "27187ecf54cfa278")

  // ------------------------------------------------ evaluation

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case x => x.toString
  }

  /** Codegen run: whole-stage codegen with no fallback to `eval` (a
    * compile failure fails the case). Interpreted run: no whole-stage
    * codegen and every projection through `Expression.eval`.
    */
  private def run(c: Column, codegen: Boolean): Seq[(Long, String)] = {
    val confs =
      if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
      else Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = docs.select(col("id"), c.as("v"))
      val out = df.collect().map(r => r.getLong(0) -> render(r.get(1))).sortBy(_._1).toSeq
      val wholeStage = df.queryExecution.executedPlan
        .collectFirst { case w: WholeStageCodegenExec => w }.isDefined
      assert(wholeStage == codegen, s"whole-stage codegen was $wholeStage, wanted $codegen")
      out
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def digest(rows: Seq[(Long, String)]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    val sum = rows.map { case (id, v) =>
      val s = s"$id|$v"
      (stringHash(s, 17).toLong << 32) ^ (stringHash(s, 31).toLong & 0xFFFFFFFFL)
    }.sum
    f"$sum%016x"
  }

  test("inputs carry the named edge cases and the seeded strings") {
    assert(inputs.length == named.length + 200)
    assert(inputs.exists(s => s != null && s.length == 100000 && !s.contains(" ")))
    assert(texts.exists(s => s.exists(Character.isSurrogate)))
  }

  for ((name, build) <- cases) {
    test(s"lockstep: $name") {
      val c = build()
      val compiled = run(c, codegen = true)
      val interpreted = run(c, codegen = false)
      assert(compiled.length == inputs.length)
      compiled.zip(interpreted).foreach { case (g, e) =>
        assert(g == e, s"$name: codegen and eval disagree on input ${
          named.lift(g._1.toInt).map(_._1).getOrElse(s"seeded #${g._1}")}")
      }
      val d = digest(compiled)
      println(s"[lockstep] \"$name\" -> \"$d\",")
      assert(frozen.get(name).contains(d), s"$name: digest $d, frozen ${frozen.get(name)}")
    }
  }

  test("every native expression in graft.functions has a lockstep case") {
    val covered: Set[Class[_]] = cases.flatMap { case (_, build) =>
      org.apache.spark.sql.GraftShim.expression(build()).collect { case e => e.getClass }
    }.toSet
    val declared = NativeLockstepSpec.nativeExpressions
    println(s"[lockstep] ${declared.size} native expressions: " +
      declared.map(_.getSimpleName).sorted.mkString(", "))
    val missing = declared.filterNot(covered)
    assert(missing.isEmpty, "native expressions without a lockstep case: " +
      missing.map(_.getName).sorted.mkString(", "))
  }
}

object NativeLockstepSpec {

  /** Every concrete, non-aggregate Catalyst `Expression` compiled into the
    * `graft.functions` package, found by listing the package's class
    * files next to [[graft.functions.TextHashes]]. Aggregates
    * (`MisraGriesAgg`) have no row-at-a-time codegen path to lock.
    */
  def nativeExpressions: Seq[Class[_]] = {
    val pkg = "graft/functions/"
    val loc = classOf[graft.functions.TextHashes.type].getProtectionDomain
      .getCodeSource.getLocation.toURI
    val root = new java.io.File(loc)
    val names: Seq[String] =
      if (root.isDirectory) {
        val dir = new java.io.File(root, pkg)
        Option(dir.list()).toSeq.flatten.map(pkg + _)
      } else {
        val jar = new java.util.jar.JarFile(root)
        try {
          import scala.jdk.CollectionConverters._
          jar.entries().asScala.map(_.getName)
            .filter(n => n.startsWith(pkg) && !n.stripPrefix(pkg).contains("/")).toList
        } finally jar.close()
      }
    names.filter(_.endsWith(".class"))
      .map(n => Class.forName(n.stripSuffix(".class").replace('/', '.'), false,
        getClass.getClassLoader))
      .filter { c =>
        classOf[Expression].isAssignableFrom(c) &&
        !classOf[AggregateFunction].isAssignableFrom(c) &&
        !c.isInterface && !java.lang.reflect.Modifier.isAbstract(c.getModifiers)
      }
      .sortBy(_.getName)
  }
}
