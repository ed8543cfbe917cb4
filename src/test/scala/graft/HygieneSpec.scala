package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Fixture specs for the corpus-hygiene operators (Pii, Decontam,
  * Packing) — the corners the sf oracle gate cannot see: the synthetic
  * corpus carries no PII, and nothing guarantees it hits the
  * budget-boundary / sequence-straddle edges the operators' scaladocs
  * reason about.
  */
class HygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def writeDocs(prefix: String,
      rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = Files.createTempDirectory(prefix).toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---------------------------------------------------------------- PII

  /** The fixture Pii.scala's scaladoc promises: seeded docs carrying each
    * pattern family plus the adversarial overlaps — phone-inside-IPv4
    * (ordering observable), SSN inside a phone-looking context, SSN
    * inside an email local part (email precedence observable).
    */
  test("PII scan counts each seeded family; adversarial overlaps resolve per contract") {
    val docs = Seq(
      (0L, "contact john.doe+x@example-site.co now", "en", "s", 1L),
      (1L, "call 555-123-4567 or 555.123.4567 today", "en", "s", 1L),
      (2L, "ssn 123-45-6789 on file", "en", "s", 1L),
      (3L, "server at 10.0.255.1 and 999.0.0.1 up", "en", "s", 1L),
      // phone "200.300.4000" overlaps IPv4 "100.200.300.400": counts see
      // one of EACH on the raw text; redaction applies phone before IP
      (4L, "mix 100.200.300.4000 here", "en", "s", 1L),
      // SSN-shaped run inside an email local part: email wins redaction
      (5L, "reach 123-45-6789@mail99.com soon", "en", "s", 1L),
      // looks phone-ish, but only the SSN shape 456-78-9012 matches
      (6L, "odd 123-456-78-9012 case", "en", "s", 1L),
      (7L, "clean text with no pii at all", "en", "s", 1L))
    val dir = writeDocs("pii", docs)
    val scan = Pii.piiScan(spark, dir)
      .select("doc_id", "n_emails", "n_ssn", "n_phones", "n_ipv4", "pii_total")
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(scan.toSeq == Seq(
      (0L, 1, 0, 0, 0, 1),
      (1L, 0, 0, 2, 0, 2),
      (2L, 0, 1, 0, 0, 1),
      (3L, 0, 0, 0, 2, 2),
      (4L, 0, 0, 1, 1, 2),
      (5L, 1, 1, 0, 0, 2),
      (6L, 0, 1, 0, 0, 1),
      (7L, 0, 0, 0, 0, 0)))
  }

  test("PII redaction applies the precedence order byte-for-byte and leaves no surviving match") {
    val docs = Seq(
      (0L, "contact john.doe+x@example-site.co now", "en", "s", 1L),
      (1L, "call 555-123-4567 or 555.123.4567 today", "en", "s", 1L),
      (2L, "ssn 123-45-6789 on file", "en", "s", 1L),
      (3L, "server at 10.0.255.1 and 999.0.0.1 up", "en", "s", 1L),
      (4L, "mix 100.200.300.4000 here", "en", "s", 1L),
      (5L, "reach 123-45-6789@mail99.com soon", "en", "s", 1L),
      (6L, "odd 123-456-78-9012 case", "en", "s", 1L),
      (7L, "clean text with no pii at all", "en", "s", 1L))
    val dir = writeDocs("piired", docs)
    val redacted = Pii.redactDocs(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(redacted.toSeq == Seq(
      (0L, "contact <EMAIL> now"),
      (1L, "call <PHONE> or <PHONE> today"),
      (2L, "ssn <SSN> on file"),
      (3L, "server at <IP> and <IP> up"),
      // phone redacts before IP: the IP's surviving prefix stays literal
      (4L, "mix 100.<PHONE> here"),
      // email redacts before SSN: the SSN-shaped local part is consumed whole
      (5L, "reach <EMAIL> soon"),
      (6L, "odd 123-<SSN> case"),
      (7L, "clean text with no pii at all")))
    // no-surviving-match property, re-checked with plain Java regex (the
    // same leftmost-first engine Spark codegen compiles to)
    val families = Seq(Pii.EmailPattern, Pii.SsnPattern, Pii.PhonePattern, Pii.Ipv4Pattern)
      .map(java.util.regex.Pattern.compile)
    for ((id, text) <- redacted; p <- families)
      assert(!p.matcher(text).find(), s"pattern $p survives in doc $id: $text")
  }

  // ----------------------------------------------------------- Decontam

  test("decontam against an external benchmark frame: planted overlap, clean doc, shorter-than-n doc") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "s", 1L), // 3 shingles
      (1L, "zeta eta theta", "en", "s", 1L),                 // 1 shingle
      (2L, "ab cd", "en", "s", 1L))                          // < n words
    val dir = writeDocs("decontam", docs)
    val bench = Seq("alpha beta gamma", "beta gamma delta", "unrelated bench gram")
      .toDF("shingle")
    val out = Decontam.contaminationAgainst(spark, dir, bench, minFrac = 0.5)
      .select("doc_id", "n_ngrams", "n_overlap", "overlap_frac", "contaminated")
      .as[(Long, Int, Long, Double, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 3, 2L, 0.6667, 1), // 2/3 overlap, PortableRound to 4 places
      (1L, 1, 0L, 0.0, 0),
      (2L, 0, 0L, 0.0, 0)))   // zero n-grams: explicit 0.0, kept
  }

  test("modulus demo form equals the external form fed the modulus-selected n-grams") {
    // regression pin for the registered query: the refactor into
    // contaminationAgainst + demo wrapper must not move a single row.
    // Shingle construction replicated verbatim from Dedup.shingled.
    val sh = Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .filter("size(w) >= 3")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))) AS shingles")
    val bench = sh.filter(s"doc_id % ${Decontam.DefaultBenchModulus} = 0")
      .selectExpr("explode(shingles) AS shingle")
    val demo = Decontam.contamination(spark, sf).collect().toSeq
    val ext = Decontam.contaminationAgainst(spark, sf, bench).collect().toSeq
    assert(demo == ext)
  }

  test("fuzzy decontam attributes single-item leaks; clears the cross-item collage the union check flags") {
    // four benchmark items (ids ≡ 0 mod 20), disjoint vocabularies
    val itemA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val itemB = (1 to 20).map(i => s"b$i").mkString(" ")
    val itemC = (1 to 20).map(i => s"c$i").mkString(" ")
    val itemD = (1 to 20).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (0L, itemA, "en", "s", 1L),
      (20L, itemB, "en", "s", 1L),
      (40L, itemC, "en", "s", 1L),
      (60L, itemD, "en", "s", 1L),
      // one-word edit of item A: a concentrated single-item leak
      (1L, itemA.replace("kappa", "EDIT"), "en", "s", 1L),
      // reversed word order: same vocabulary, zero shared shingles
      (2L, itemA.split(" ").reverse.mkString(" "), "en", "s", 1L),
      // collage: one exact 3-gram from each of B, C, D glued with fresh
      // words — incidental phrase reuse, not a leak of any single item
      (7L, "b1 b2 b3 glue1 c4 c5 c6 glue2 d7 d8 d9", "en", "s", 1L))
    val dir = writeDocs("fuzzy", docs)

    val fuzzy = Decontam.fuzzyContamination(spark, dir)
      .select("doc_id", "best_agree", "fuzzy_contaminated")
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // benchmark members self-match at exactly 1.0
    assert(Seq(0L, 20L, 40L, 60L).forall(fuzzy(_) == ((1.0, 1))), fuzzy.toString)
    // the edit is caught and attributed with high signature agreement
    assert(fuzzy(1L)._2 == 1 && fuzzy(1L)._1 >= 0.5, fuzzy.toString)
    // shingle-destroying rewrite and the collage both stay clean: no
    // single benchmark item resembles them
    assert(fuzzy(2L) == ((0.0, 0)) && fuzzy(7L) == ((0.0, 0)), fuzzy.toString)

    // the union-overlap check CANNOT separate the collage from a leak —
    // 3 of its 9 shingles hit the benchmark union (frac 0.33 ≥ 0.1) —
    // which is exactly the precision gap the fuzzy form closes
    val exact = Decontam.contamination(spark, dir)
      .select("doc_id", "contaminated").as[(Long, Int)].collect().toMap
    assert(exact(7L) == 1, s"union check should flag the collage: $exact")
    assert(exact(1L) == 1, "both checks agree on the true leak")
  }

  test("fuzzy modulus demo form equals the external form fed the modulus-selected docs") {
    // same regression pin as the exact check: the production entry point
    // (external benchmark frame, hard broadcast) must agree row-for-row
    // with the demo wrapper when fed the same benchmark documents.
    val bench = Tables.documents(spark, sf)
      .filter(s"doc_id % ${Decontam.DefaultBenchModulus} = 0")
      .select("doc_id", "text")
    val demo = Decontam.fuzzyContamination(spark, sf).collect().toSeq
    val ext = Decontam.fuzzyContaminationAgainst(spark, sf, bench).collect().toSeq
    assert(demo == ext)
  }

  /** Semantic decontam: a corpus twin of a benchmark vector flags with
    * the right attribution and the full-scale quantized cosine; an
    * orthogonal vector and an anti-parallel vector stay clean. (Exact
    * twins always share an LSH bucket — the plane table is static.)
    */
  test("semantic decontam flags the benchmark twin, clears orthogonal and anti-parallel") {
    def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val bench = df(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      20L -> Seq(0f, 0f, 1f, 0f)))
    val corpus = df(Seq(
      1L -> Seq(1f, 0f, 0f, 0f),   // twin of bench 0: contaminated
      2L -> Seq(0f, 1f, 0f, 0f),   // orthogonal: clean
      3L -> Seq(0f, 0f, -1f, 0f))) // anti-parallel to 20: cos -1, clean
    val got = Similarity.semanticContaminationAgainst(corpus, bench,
        minCosine = 0.9, nBits = 2)
      .as[(Long, Option[Long], Long, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2, r._4)) == Seq(
      (1L, Some(0L), 1), (2L, None, 0), (3L, None, 0)), got.toString)
    assert(got.head._3 == 1000000000000L, got.toString)
  }

  test("semantic decontam modulus demo form equals the external form fed the modulus vectors") {
    val dir = Files.createTempDirectory("semdecon").toString
    def unit(i: Int): Array[Float] = { val v = new Array[Float](4); v(i) = 1f; v }
    // ids 0,20,40 are benchmark under the default modulus 20
    Seq((0L, unit(0), 0), (20L, unit(1), 0), (40L, unit(2), 0),
      (1L, unit(0), 0), (21L, unit(3), 0), (22L, unit(1), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val demo = Similarity.semanticContamination(spark, dir).collect().toSeq
    val bench = Tables.embeddings(spark, dir)
      .filter(s"vec_id % ${Decontam.DefaultBenchModulus} = 0")
      .select("vec_id", "embedding")
    val corpus = Tables.embeddings(spark, dir)
      .filter(s"vec_id % ${Decontam.DefaultBenchModulus} <> 0")
      .select("vec_id", "embedding")
    val ext = Similarity.semanticContaminationAgainst(corpus, bench).collect().toSeq
    assert(demo == ext)
    // and the fixture's semantics hold through the demo path: twins of
    // bench vectors flag, the unmatched direction stays clean
    val flags = demo.map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(flags == Map(1L -> 1, 21L -> 0, 22L -> 1))
  }

  test("source funnel attributes each drop to its provenance cell and sums the kept token mass") {
    // two sources in one lang: "crawlA" ships a benchmark doc (id 0,
    // modulus 20 → contaminated self-match), a twin pair (1 copies 21's
    // content — 21 < 1 is false, so min-id 1 keeps, 21 drops), and a
    // short junk doc; "crawlB" ships clean docs only
    val twelve = (1 to 12).map(i => s"t$i").mkString(" ")
    val clean1 = (1 to 15).map(i => s"c$i").mkString(" ")
    val clean2 = (1 to 18).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (0L, (1 to 14).map(i => s"bench$i").mkString(" "), "en", "crawlA", 1L),
      (1L, twelve, "en", "crawlA", 1L),
      (21L, twelve, "en", "crawlA", 1L),
      (3L, "tiny", "en", "crawlA", 1L),
      (2L, clean1, "en", "crawlB", 1L),
      (4L, clean2, "en", "crawlB", 1L))
    val dir = writeDocs("srcfunnel", docs)
    // fixture tokens carry no stopwords: relax the ratio knob (the
    // existing curation fixtures' device) so the intended branches fire
    val out = graft.operators.Curation.sourceFunnel(spark, dir,
        minTokens = 4, minStopwordRatio = 0.0)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val a = out(("en", "crawlA"))
    val b = out(("en", "crawlB"))
    // crawlA: 4 docs — 1 quality drop (tiny), 1 contaminated (the
    // benchmark member), 1 duplicate (21 loses to 1), 1 kept (doc 1)
    assert((a._3, a._4, a._5, a._6, a._7) == ((4L, 1L, 1L, 1L, 1L)), a.toString)
    assert(a._8 == 12L, s"kept token mass must count doc 1 only: $a")
    // crawlB: both clean and kept
    assert((b._3, b._4, b._5, b._6, b._7) == ((2L, 0L, 0L, 0L, 2L)), b.toString)
    assert(b._8 == 33L, b.toString)
    // the funnel is a partition of the full chain's verdicts: totals
    // must reconcile with curateDocsFull on the same dir (same knobs)
    val full = graft.operators.Curation.curateDocsFull(spark, dir,
      minTokens = 4, minStopwordRatio = 0.0)
    assert(out.values.map(_._3).sum == full.count())
    assert(out.values.map(_._7).sum ==
      full.where("kept = 1").count())
  }

  // --------------------------------------------------- incremental dedup

  test("incremental dedup: corpus hit labels every batch copy, in-batch twins elect min id") {
    // known snapshot = ids 0,4,8 (modulus 4); batch = the rest.
    // Docs 7 and 9 carry NULL text: content-less, so they neither match
    // the corpus nor dedup against each other — both stay, reported kept
    // (an inner election join would silently lose them).
    val dir = Files.createTempDirectory("incdedup").toString
    Seq(
      (0L, Option("frozen corpus content"), "en", "s", 1L),
      (4L, Option("other frozen content"), "en", "s", 1L),
      (8L, Option("third frozen content"), "en", "s", 1L),
      (1L, Option("frozen corpus content"), "en", "s", 1L),  // corpus dup
      (2L, Option("brand new content twice"), "en", "s", 1L),
      (3L, Option("brand new content twice"), "en", "s", 1L), // batch dup of 2
      (5L, Option("unique new content"), "en", "s", 1L),
      // corpus dup even though batch doc 1 shares it: corpus wins
      (6L, Option("frozen corpus content"), "en", "s", 1L),
      (7L, Option.empty[String], "en", "s", 1L),
      (9L, Option.empty[String], "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.incrementalExact(spark, dir)
      .select("doc_id", "dup_of", "kept")
      .as[(Long, Option[String], Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, Some("corpus"), 0),
      (2L, None, 1),
      (3L, Some("batch"), 0),
      (5L, None, 1),
      (6L, Some("corpus"), 0),
      (7L, None, 1),
      (9L, None, 1)))
  }

  test("incremental minhash dedup: frozen twin drops, in-batch near-dups stay, unrelated kept") {
    import org.apache.spark.sql.DataFrame
    // shingle domain needs >= 3 tokens; texts chosen so the frozen twin
    // is byte-identical (agreement 1.0 in every band — guaranteed drop
    // at any seed) and the unrelated doc shares no shingles at all
    val frozen = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (104L, "completely different frozen snapshot material about distributed query engines"))
    val batch = Seq(
      // exact copy of frozen 100 -> dropped with best_est_jaccard 1.0
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      // unrelated -> kept
      (2L, "unrelated astronomy news covering solar flares and magnetic storms"),
      // 3 and 5 are near-identical to EACH OTHER but unlike any frozen
      // doc -> both kept (corpus-only contract; in-batch dups are the
      // full forms' job)
      (3L, "twin sentence body shared across exactly these two batch documents alpha"),
      (5L, "twin sentence body shared across exactly these two batch documents beta"))
    def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    val out = Dedup.minhashDedupAgainst(df(batch), df(frozen))
      .select("doc_id", "dup_of", "best_est_jaccard", "dropped")
      .as[(Long, Option[Long], Double, Int)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._2, r._4)) == Seq(
      (1L, Some(100L), 1), (2L, None, 0), (3L, None, 0), (5L, None, 0)), out.toString)
    assert(out.head._3 == 1.0, s"byte-identical twin must agree on every minhash: ${out.head}")
    // registered demo form runs on the sf corpus and reports one row per
    // batch doc (modulus device: batch = doc_id % 4 != 0)
    val demo = Dedup.minhashDedupIncremental(spark, sf)
    val batchN = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(4)) =!= 0).count()
    assert(demo.count() == batchN)
  }

  test("incremental winnow: frozen passage sharer drops, in-batch sharing stays, fp-less docs pass") {
    import org.apache.spark.sql.DataFrame
    // runs are 12 tokens: enough interior winnow windows for >= 2 shared
    // fingerprints at the registered minShared = 2 (deterministic — the
    // hash family is fixed)
    val runF = "mercury venus earth mars jupiter saturn uranus neptune pluto ceres eris makemake"
    val runL = "red orange yellow green blue indigo violet amber cyan teal navy maroon"
    val frozen = Seq(
      (100L, s"intro words $runF outro end"),
      (104L, "completely different frozen snapshot material here"))
    val batch = Seq(
      // shares F with the frozen corpus -> dropped
      (1L, s"different framing $runF closing words"),
      // unrelated -> kept
      (2L, "unrelated astronomy news covering solar flares and magnetic storms"),
      // 3 and 5 share L with EACH OTHER but no frozen doc -> both kept
      // (corpus-only contract; in-batch sharing is winnowMatches' job)
      (3L, s"alpha opening $runL beta tail"),
      (5L, s"gamma opening $runL delta tail"),
      // content-less docs: no fingerprints, pass (content-neutral rule)
      (7L, null.asInstanceOf[String]),
      (9L, "too short"))
    def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    val frozenFps = df(frozen).select(
      explode(TextAnalytics.winnowFpArray(col("text"),
        TextAnalytics.WinnowK, TextAnalytics.WinnowW)).as("fp"))
    val out = TextAnalytics.winnowMatchesAgainst(df(batch), frozenFps)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._5)) == Seq(
      (1L, 1), (2L, 0), (3L, 0), (5L, 0), (7L, 0), (9L, 0)), out.toString)
    val d1 = out.head
    assert(d1._3 >= 2 && d1._3 <= d1._2 && d1._4 > 0.0 && d1._4 <= 1.0, d1.toString)
    // fp-less docs report the zero row, not NULLs or absence
    assert(out.filter(r => r._1 == 7L || r._1 == 9L)
      .forall(r => r._2 == 0L && r._3 == 0L && r._4 == 0.0), out.toString)
    // registered demo form: one row per batch doc on the sf corpus
    val demo = TextAnalytics.winnowIncremental(spark, sf)
    val batchN = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(4)) =!= 0).count()
    assert(demo.count() == batchN)
  }

  test("passage curation: family member drops, exact dup outranks it, unrepresented rep retains members") {
    // run1 family {0, 1, 2}: rep 0 kept -> 1 drops passage_dup; 2 is a
    // byte copy of 0, so the exact-dup stage claims it FIRST (precedence).
    // run2 family {5, 6}: rep 5 fails quality (zero stopwords), so its
    // content never ships and member 6 is RETAINED (conservative rule).
    // 7 is sub-threshold: no fingerprints, quality-dropped, null cluster.
    val run1 = "mercury venus earth mars jupiter saturn uranus neptune pluto ceres eris makemake"
    val run2 = "crimson amber emerald sapphire violet indigo turquoise magenta coral ivory onyx pearl"
    val doc0 = s"the alpha $run1 beta gamma the end"
    val dir = writeDocs("curpass", Seq(
      (0L, doc0, "en", "s", 1L),
      (1L, s"the delta $run1 epsilon zeta the tail", "en", "s", 1L),
      (2L, doc0, "en", "s", 1L),
      (5L, run2, "en", "s", 1L), // 12 tokens, 0 stopwords: quality drop
      (6L, s"the one $run2 two three the four", "en", "s", 1L),
      (7L, "the tiny", "en", "s", 1L)))
    val out = Curation.curateWithPassages(spark, dir)
      .select("doc_id", "cluster_rep", "drop_reason", "kept")
      .as[(Long, Option[Long], Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((Some(0L), None, 1)), out(0L).toString)
    assert(out(1L) == ((Some(0L), Some("passage_dup"), 0)), out(1L).toString)
    assert(out(2L) == ((Some(0L), Some("duplicate"), 0)), out(2L).toString)
    assert(out(5L) == ((Some(5L), Some("quality"), 0)), out(5L).toString)
    assert(out(6L) == ((Some(5L), None, 1)),
      s"member of an unrepresented family must be retained: ${out(6L)}")
    assert(out(7L) == ((None, Some("quality"), 0)), out(7L).toString)
  }

  // ----------------------------------------------- full curation pipeline

  /** The hygiene-integrated capstone: PII redact → quality → decontam →
    * exact dedup. Pins the three precedence seams the sf oracle can't
    * isolate: quality beats contaminated, contaminated beats duplicate,
    * and redaction-before-dedup merges docs differing only in PII.
    */
  test("full curation: quality > contaminated > duplicate; redaction merges PII-differing twins") {
    val docs = Seq(
      // benchmark member (id % 10 == 0): frac 1.0 by construction
      (0L, "alpha beta gamma delta epsilon", "en", "s", 1L),
      (1L, "one two three", "en", "s", 1L),       // quality (3 < minTokens)
      (2L, "alpha beta gamma", "en", "s", 1L),    // quality-fail AND bench overlap
      (3L, "alpha beta gamma delta epsilon", "en", "s", 1L), // byte-dup of bench doc
      (4L, "please contact someone at alice@example.com for data access info", "en", "s", 1L),
      (6L, "please contact someone at bob@test.org for data access info", "en", "s", 1L),
      (7L, "totally unique words nobody else uses here", "en", "s", 1L),
      // 9 words -> 7 shingles, 1 in bench: frac 1/7 < 0.5 -> clean
      (8L, "alpha beta gamma plus five more random words here", "en", "s", 1L))
    val dir = writeDocs("curfull", docs)
    val out = Curation.curateDocsFull(spark, dir,
        minTokens = 4, minStopwordRatio = 0.0, benchModulus = 10, minFrac = 0.5)
      .select("doc_id", "n_tokens", "drop_reason", "kept")
      .as[(Long, Int, Option[String], Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 5, Some("contaminated"), 0), // bench member: the frac-1.0 sanity signal
      (1L, 3, Some("quality"), 0),
      (2L, 3, Some("quality"), 0),      // quality wins over contaminated
      (3L, 5, Some("contaminated"), 0), // contaminated wins over duplicate
      (4L, 9, None, 1),                 // keeper of the redaction-merged pair
      (6L, 9, Some("duplicate"), 0),    // differs from 4 only in the email
      (7L, 7, None, 1),
      (8L, 9, None, 1)))                // sub-threshold overlap stays
    // production form: the same benchmark supplied as an external frame
    // must reproduce the modulus demo's decisions row for row
    val ext = Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")
      .toDF("shingle")
    val outExt = Curation.curateDocsFull(spark, dir,
        minTokens = 4, minStopwordRatio = 0.0, minFrac = 0.5,
        benchNgrams = Some(ext))
      .select("doc_id", "n_tokens", "drop_reason", "kept")
      .as[(Long, Int, Option[String], Int)].collect().sortBy(_._1)
    assert(outExt.toSeq == out.toSeq)
  }

  /** Lexical near-dup stage. Fixture hammings are DETERMINISTIC (simhash
    * is seedless): c1a↔c1b are permutations — identical token multiset,
    * identical fingerprint (hamming 0), different md5; c2a↔c2b measure
    * hamming 2; every cross-cluster pair measures ≥ 8 (verified once,
    * stable forever). Pins all four decision classes AND the
    * rep-quality-dropped retention branch the semantic stage shares.
    */
  test("near-dup curation: permuted twin drops, exact dup wins precedence, orphaned cluster retained") {
    val c1 = "the alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    val docs = Seq(
      (1L, c1, "en", "s", 1L),
      // permutation of c1: same fingerprint, different bytes
      (2L, "kilo juliet india hotel golf foxtrot echo delta charlie bravo alpha the", "en", "s", 1L),
      // 9 tokens: quality-fails, and is the min-id rep of cluster 2
      (3L, "of mike november oscar papa quebec romeo sierra tango", "en", "s", 1L),
      // hamming 3 from doc 3 (measured against the QUADRATIC portable
      // simhash — re-planted when the pattern mix changed mid-round-13):
      // near-dup of a quality-dropped rep
      (4L, "of mike november oscar papa quebec romeo sierra tango zulu three blue", "en", "s", 1L),
      (5L, c1, "en", "s", 1L), // byte-identical to 1: exact duplicate
      (6L, "the unique solitary content words nobody repeats anywhere at all here now", "en", "s", 1L))
    val dir = writeDocs("neardup", docs)
    val out = Curation.curateWithNearDups(spark, dir)
      .select("doc_id", "cluster_rep", "drop_reason", "kept")
      .as[(Long, Long, Option[String], Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, None, 1),
      (2L, 1L, Some("neardup"), 0),   // permuted twin, rep kept
      (3L, 3L, Some("quality"), 0),   // cluster-2 rep itself
      (4L, 3L, None, 1),              // rep's content vanished: retained
      (5L, 1L, Some("duplicate"), 0), // exact dup outranks neardup
      (6L, 6L, None, 1)))
  }

  /** The complete chain, all six decision classes + all three retention
    * branches (semantic keeper quality-dropped; keeper content died
    * post-nd; near-dup rep self-kept) in one aligned docs/embeddings
    * fixture. Measured hammings (deterministic, seedless): each
    * permutation pair is 0; EVERY other text pair is ≥ 7, so no
    * accidental near-dup merges.
    */
  test("complete curation: six decision classes, three retention branches, redaction-first") {
    def salad(p: String) = "the " + (0 until 29).map(i => s"$p$i").mkString(" ")
    val t1 = salad("alpha")
    val docs = Seq(
      (0L, salad("bench"), "en", "s", 1L),  // benchModulus member: contaminated
      (1L, t1, "en", "s", 1L),              // kept; near-dup cluster rep
      (2L, "the " + (0 until 29).reverse.map(i => s"alpha$i").mkString(" "),
        "en", "s", 1L),                     // permutation of t1: neardup
      (3L, t1, "en", "s", 1L),              // byte-copy of 1: duplicate
      (4L, "too short", "en", "s", 1L),     // quality; semantic rep of {4,7}
      (5L, salad("gamma"), "en", "s", 1L),  // kept; semantic keeper of {5,6}
      (6L, salad("delta"), "en", "s", 1L),  // same embedding as 5: semantic
      (7L, salad("epsilon"), "en", "s", 1L),// keeper 4 vanished: retained
      (8L, salad("zeta") + " reach alice@example.com now", "en", "s", 1L),
      (9L, salad("zeta") + " reach bob@test.org now", "en", "s", 1L),
      // 8/9 differ only in the email: byte-identical after redaction.
      // 10-13 build the three-stage soundness trap: R(10) is a
      // permutation of A(11), B(12) is A's byte-copy, M(13) is B's
      // semantic twin. The exact stage keeps A and drops B 'duplicate';
      // the nd stage then drops A 'neardup' (rep R) — so B's CONTENT has
      // no surviving byte-copy, and M must be retained even though its
      // keeper B carries the 'duplicate' label.
      (10L, "the " + (0 until 29).reverse.map(i => s"eta$i").mkString(" "), "en", "s", 1L),
      (11L, salad("eta"), "en", "s", 1L),
      (12L, salad("eta"), "en", "s", 1L),
      (13L, salad("theta"), "en", "s", 1L))
    val dir = writeDocs("complete", docs)
    def unit(i: Int): Array[Float] = { val v = new Array[Float](4); v(i) = 1f; v }
    Seq((4L, unit(1), "l"), (5L, unit(0), "l"), (6L, unit(0), "l"), (7L, unit(1), "l"),
      (12L, unit(2), "l"), (13L, unit(2), "l"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Curation.curateComplete(spark, dir, minCosine = 0.95, nCells = 2)
      .select("doc_id", "drop_reason", "kept")
      .as[(Long, Option[String], Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, Some("contaminated"), 0),
      (1L, None, 1),
      (2L, Some("neardup"), 0),
      (3L, Some("duplicate"), 0),
      (4L, Some("quality"), 0),
      (5L, None, 1),
      (6L, Some("semantic"), 0),
      (7L, None, 1),                // semantic keeper quality-dropped: retained
      (8L, None, 1),                // keeper of the redaction-merged pair
      (9L, Some("duplicate"), 0),   // exact dup post-redaction
      (10L, None, 1),               // nd rep of the eta cluster
      (11L, Some("neardup"), 0),    // md5 keeper, near-dup-dropped after
      (12L, Some("duplicate"), 0),
      (13L, None, 1)))              // keeper content died post-nd: retained
  }

  // ------------------------------------------------------------ Packing

  /** Naive sequential budget fill: order by (bucket, doc_id), keep while
    * the inclusive running sum stays within budget — the definition the
    * distributed two-phase form must reproduce.
    */
  private def naiveMix(rows: Seq[(Long, Option[Int])], budget: Long,
      nBuckets: Int): Set[Long] = {
    val ordered = rows.map { case (id, tok) =>
      (((id % 2147483648L) * 3266489917L) % nBuckets, id, tok.getOrElse(0).toLong)
    }.sortBy(x => (x._1, x._2))
    var cum = 0L
    ordered.flatMap { case (_, id, tok) =>
      cum += tok
      if (cum <= budget) Some(id) else None
    }.toSet
  }

  // Fixture note: a 0-token doc must be written as NULL text (None), not
  // an empty string — split('', ' ') is [''] in BOTH Spark and DuckDB, so
  // empty-string text counts as 1 token in the operator and its oracle
  // alike; the naive models below count tok.getOrElse(0).
  private def mixFixtureDir(prefix: String, rows: Seq[(Long, Option[Int])]): String = {
    val dir = Files.createTempDirectory(prefix).toString
    rows.map { case (id, tok) =>
      (id, tok.map(t => Seq.fill(t)("w").mkString(" ")).orNull, "en", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("token budget mix: zero-token doc sitting exactly at bprefix == budget is kept") {
    // engineer a bucket whose exclusive prefix lands exactly on the
    // budget and whose first doc is zero-token: the naive rule keeps it
    // (cum == budget), so the distributed classifier must route it to the
    // boundary window (bprefix <= budget), not the drop branch.
    val nBuckets = 4
    def bucket(id: Long) = ((id % 2147483648L) * 3266489917L) % nBuckets
    val ids = (0L until 40L).toSeq
    val byBucket = ids.groupBy(bucket).toSeq.sortBy(_._1).map(_._2)
    assert(byBucket.size == nBuckets, "fixture must populate every bucket")
    // 10 tokens per doc in the first two buckets; budget = their total,
    // so bucket 3's bprefix == budget exactly; its lowest id goes null
    val firstTwo = byBucket.take(2).flatten.toSet
    val edgeBucketIds = byBucket(2).sorted
    val rows = ids.map { id =>
      if (firstTwo(id)) (id, Some(10))
      else if (id == edgeBucketIds.head) (id, None) // zero-token edge doc
      else (id, Some(10))
    }
    val budget = 10L * firstTwo.size
    val dir = mixFixtureDir("mixedge", rows)
    val kept = Packing.tokenBudgetMix(spark, dir, Map("en" -> budget), nBuckets)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(edgeBucketIds.head),
      "zero-token doc at bprefix == budget must be kept (inclusive edge)")
    assert(kept == naiveMix(rows, budget, nBuckets))
  }

  test("token budget mix: bucket decomposition equals the naive window on a random fixture") {
    val rnd = new scala.util.Random(20260812L)
    val rows = (0L until 200L).map { id =>
      if (rnd.nextInt(10) == 0) (id, None) else (id, Some(1 + rnd.nextInt(39)))
    }
    val nBuckets = 8
    val budget = 1500L // cuts mid-stream: ~3800 expected total tokens
    val dir = mixFixtureDir("mixrand", rows)
    val kept = Packing.tokenBudgetMix(spark, dir, Map("en" -> budget), nBuckets)
      .select("doc_id").as[Long].collect().toSet
    val naive = naiveMix(rows, budget, nBuckets)
    assert(kept == naive)
    assert(naive.nonEmpty && naive.size < rows.size, "budget must cut mid-stream")
  }

  test("sequence packing: >= 3-sequence straddle, zero-token docs at cum = 0 and at a boundary") {
    // seqLen 10, bucketWidth 2: doc 0 null (the cum = 0 div corner),
    // doc 1 = 20 tokens (ends exactly on a boundary), doc 2 null AT that
    // boundary, doc 3 = 25 tokens (straddles sequences 2..4), doc 4 = 5.
    val rows = Seq[(Long, Option[Int])](
      (0L, None), (1L, Some(20)), (2L, None), (3L, Some(25)), (4L, Some(5)))
    val dir = mixFixtureDir("pack", rows)
    val out = Packing.packSequences(spark, dir, seqLen = 10, bucketWidth = 2)
      .select("doc_id", "n_tokens", "start_off", "seq_first", "seq_last", "crosses")
      .as[(Long, Int, Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 0, 0L, 0L, 0L, 0),   // cum = 0: (cum-1) div L clamped up to seq_first
      (1L, 20, 0L, 0L, 1L, 1),  // fills sequences 0 and 1 exactly
      (2L, 0, 20L, 2L, 2L, 0),  // empty span exactly at the boundary
      (3L, 25, 20L, 2L, 4L, 1), // straddles three sequences: 2, 3, 4
      (4L, 5, 45L, 4L, 4L, 0)))
  }

  test("packing stats: ceil-based n_seqs ignores a trailing zero-token boundary doc") {
    // total = 50 tokens at seqLen 10 -> exactly 5 sequences, fill 1.0;
    // the trailing NULL doc sits at cum = 50 (seq_first = 5) but must not
    // mint a phantom 6th sequence
    val rows = Seq[(Long, Option[Int])](
      (0L, None), (1L, Some(20)), (2L, None), (3L, Some(25)), (4L, Some(5)),
      (5L, None))
    val dir = mixFixtureDir("packstats", rows)
    val out = Packing.packingStats(spark, dir, seqLen = 10, bucketWidth = 2)
      .select("n_docs", "total_tokens", "n_crossing", "n_seqs", "fill_ratio")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(out == ((6L, 50L, 2L, 5L, 1.0)))
  }

  test("sequence packing: bucket decomposition equals the naive running sum on a random fixture") {
    val rnd = new scala.util.Random(8122026L)
    val rows = (0L until 150L).map { id =>
      if (rnd.nextInt(8) == 0) (id, None) else (id, Some(1 + rnd.nextInt(29)))
    }
    val dir = mixFixtureDir("packrand", rows)
    val out = Packing.packSequences(spark, dir, seqLen = 16, bucketWidth = 8)
      .select("doc_id", "n_tokens", "start_off", "seq_first", "seq_last", "crosses")
      .as[(Long, Int, Long, Long, Long, Int)].collect().sortBy(_._1)
    var cum = 0L
    val naive = rows.sortBy(_._1).map { case (id, tok) =>
      val t = tok.getOrElse(0)
      val start = cum; cum += t
      val first = start / 16
      val last = math.max(first, (cum - 1) / 16)
      (id, t, start, first, last, if (last > first) 1 else 0)
    }
    assert(out.toSeq == naive)
  }
}
