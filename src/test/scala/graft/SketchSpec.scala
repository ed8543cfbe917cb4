package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SketchAggregates
import graft.operators.CorpusStats

/** Pins the Misra–Gries sketch aggregate on data the sf corpus can't
  * produce (its vocabulary is 31 near-uniform tokens): a Zipf-ish stream
  * with vocabulary ≫ m, so the cancellation and merge paths do real work,
  * plus the end-to-end exactness of the two-phase heavyHitters operator
  * against a brute-force groupBy (the sf0.01 oracle re-checks the same
  * equality in DuckDB).
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Zipf-ish corpus: token k appears ~C/k times, vocab 400. */
  private def zipfTokens(seed: Int): Seq[String] = {
    val rnd = new Random(seed)
    val toks = mutable.ArrayBuffer.empty[String]
    (1 to 400).foreach { k =>
      val reps = math.max(1, 4000 / k)
      (1 to reps).foreach(_ => toks += s"tok$k")
    }
    rnd.shuffle(toks.toSeq)
  }

  test("MG sketch never misses a true heavy hitter and stays within budget") {
    val m = 20
    val toks = zipfTokens(seed = 7)
    val n = toks.size.toLong
    val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // distributed run: 8 partitions exercises update, serialize, merge
    val sketch = spark.createDataset(toks).repartition(8)
      .agg(SketchAggregates.misraGries(col("value"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token"), col("e.lower_bound"))
      .collect()
    assert(sketch.length <= m, s"budget exceeded: ${sketch.length} > $m")
    val surviving = sketch.map(_.getString(0)).toSet
    val bound = n.toDouble / (m + 1)
    val mustSurvive = truth.filter { case (_, c) => c > bound }.keySet
    assert(mustSurvive.nonEmpty, "fixture produced no heavy hitters — broken test")
    val missed = mustSurvive -- surviving
    assert(missed.isEmpty, s"MG guarantee violated: missing $missed (bound $bound)")
    // lower_bound never exceeds the true count
    sketch.foreach { r =>
      assert(r.getLong(1) <= truth(r.getString(0)),
        s"${r.getString(0)}: lower_bound ${r.getLong(1)} > true ${truth(r.getString(0))}")
    }
  }

  test("MG merge rule keeps the additive error bound across a merge tree") {
    // exercise merge() directly: two full buffers with disjoint keys must
    // collapse back to <= m entries by subtracting the (m+1)-th largest
    val m = 4
    val agg = SketchAggregates.MisraGriesAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), m)
    def buf(pairs: (String, Long)*): mutable.HashMap[UTF8String, Long] =
      mutable.HashMap(pairs.map { case (k, v) => UTF8String.fromString(k) -> v }: _*)
    val merged = agg.merge(buf("a" -> 10L, "b" -> 8L, "c" -> 2L, "d" -> 1L),
      buf("e" -> 9L, "f" -> 3L, "g" -> 1L, "h" -> 1L))
    assert(merged.size <= m)
    // (m+1)-th largest of (10,9,8,3,2,1,1,1) is 2 → survivors a:8 e:7 b:6 f:1
    val got = merged.map { case (k, v) => k.toString -> v }.toMap
    assert(got == Map("a" -> 8L, "e" -> 7L, "b" -> 6L, "f" -> 1L))
  }

  test("MG serialize/deserialize round-trips the buffer exactly") {
    val agg = SketchAggregates.MisraGriesAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val buf = mutable.HashMap(
      UTF8String.fromString("alpha") -> 41L,
      UTF8String.fromString("") -> 1L, // empty token is legal (split artifacts)
      UTF8String.fromString("βeta") -> 7L) // multi-byte UTF-8
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf)
  }

  test("SQL registration exposes misra_gries to spark.sql") {
    TestSpark.withExtensions { s =>
      s.createDataset(Seq("a", "a", "b", "a", "c")).createOrReplaceTempView("mg_toks")
      val out = s.sql(
        "SELECT explode(misra_gries(value, 2)) AS e FROM mg_toks")
        .selectExpr("e.token", "e.lower_bound")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // a:3 of 5 > N/(m+1): must survive with a sane lower bound
      assert(out.contains("a") && out("a") >= 1L && out("a") <= 3L && out.size <= 2)
      // non-literal m must be rejected, not silently misparsed
      intercept[Exception] {
        s.sql("SELECT misra_gries(value, length(value)) FROM mg_toks").collect()
      }
    }
  }

  test("grouped heavyHittersByLang equals per-lang brute force, thresholds independent") {
    // two languages with DIFFERENT Zipf streams and disjoint vocabularies:
    // each lang's frequent set must come from its own N_lang threshold
    val en = zipfTokens(seed = 3).map(t => ("en", t))
    val de = zipfTokens(seed = 5).map(t => ("de", "de_" + t))
    val dir = Files.createTempDirectory("hhlang").toString
    (en ++ de).grouped(50).zipWithIndex
      .map { case (g, i) =>
        (i.toLong, g.map(_._2).mkString(" "), g.head._1, "s", 1L)
      }
      .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = 20
    val got = CorpusStats.heavyHittersByLang(spark, dir, m).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    Seq(("en", en), ("de", de)).foreach { case (lang, stream) =>
      // brute-force per-lang truth over the doc-packed corpus (the last
      // chunk of a lang's stream may merge with the other lang's docs?
      // no — grouped(50) preserves order and langs are contiguous, but
      // a boundary chunk can mix: recompute truth from the written docs
      val docsToks = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("lang") === lang)
        .select(explode(split(col("text"), " ")).as("t"))
        .as[String].collect()
      val n = docsToks.length.toLong
      val expect = docsToks.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * m > n }.toMap
      assert(expect.nonEmpty)
      expect.foreach { case (t, c) =>
        assert(got.get((lang, t)).contains((c, n)), s"$lang/$t missing or wrong")
      }
      got.keys.filter(_._1 == lang).foreach { case (_, t) =>
        assert(expect.contains(t), s"false positive $lang/$t survived the verify pass")
      }
    }
  }

  test("two-phase heavyHitters equals brute-force exact frequent items") {
    val m = 20
    val toks = zipfTokens(seed = 13)
    val dir = Files.createTempDirectory("hh").toString
    // pack the stream into documents of 50 tokens each
    toks.grouped(50).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" "), "en", "s", g.mkString(" ").length.toLong) }
      .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusStats.heavyHitters(spark, dir, m).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = toks.size.toLong
    val expect = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * m > n }
      .toSeq.sortBy { case (t, c) => (-c, t) }
    assert(expect.nonEmpty && got.toSeq == expect)
    // n_corpus column is the exact stream length on every row
    CorpusStats.heavyHitters(spark, dir, m).collect()
      .foreach(r => assert(r.getLong(2) == n))
  }

  // ---------------------------------------------------- portable sketches

  private val sf = "/root/testdata/sf0.001"

  test("count-min: one-sided error, real collisions, and cell-wise-sum merge law") {
    val profile = graft.operators.Sketches.cmsProfile(spark, sf).collect()
    assert(profile.nonEmpty)
    // one-sided: the estimate never undercounts
    profile.foreach(r => assert(r.getAs[Long]("n_cms") >= r.getAs[Long]("n_exact"),
      s"undercount at ${r.getAs[String]("token")}"))
    // non-vacuous: the registered width (16) is below the vocabulary
    // size, so at least one token must carry a real overcount
    assert(profile.exists(_.getAs[Long]("overcount") > 0),
      "width 16 saw no collisions — the error profile is vacuous")
    // merge law: sketch(all) == cell-wise sum of sketch(parts) — the
    // order-independence that makes the family oracle-checkable
    val toks = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("tok"),
        (crc32(col("text")) % 2).as("part"))
      .localCheckpoint(false)
    val whole = graft.operators.Sketches.cmsTableFrom(toks.select("tok"))
    val merged = (0 to 1).map(p =>
      graft.operators.Sketches.cmsTableFrom(
        toks.filter(col("part") === p).select("tok")))
      .reduce(_ unionAll _)
      .groupBy("j", "bucket").agg(sum("n").as("n"))
    assert(whole.join(merged, Seq("j", "bucket"), "full")
      .filter(whole("n") =!= merged("n") ||
        whole("n").isNull || merged("n").isNull)
      .isEmpty)
  }

  test("hll: duplicate-insensitive, cell-wise-max merge law, estimate in band") {
    import spark.implicits._
    val ids = (0L until 150L).map(i => ("g", i)).toDF("g", "id")
    val regs = graft.operators.Sketches.hllRegisters(ids).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    // duplicate rows cannot move any register (max is idempotent)
    val dup = graft.operators.Sketches.hllRegisters(ids.unionAll(ids)).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(dup == regs)
    // merge law: registers(all) == cell-wise max of registers(parts)
    val partA = ids.filter(col("id") % 2 === 0)
    val partB = ids.filter(col("id") % 2 === 1)
    val merged = graft.operators.Sketches.hllRegisters(partA)
      .unionAll(graft.operators.Sketches.hllRegisters(partB))
      .groupBy("g", "reg").agg(max("r").as("r")).collect()
      .map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(merged == regs)
    // registered query: raw estimate inside the ~1.04/sqrt(32) band
    graft.operators.Sketches.hllUserCounts(spark, sf).collect().foreach { r =>
      val ratio = r.getAs[Double]("est_over_exact")
      assert(ratio > 0.6 && ratio < 1.4, s"est_over_exact $ratio out of band")
    }
  }

  test("production sizings collapse the error as theory predicts (r14 bench probe band)") {
    // CMS at width 2^16 over a 31-token vocabulary: three independent CW
    // rows would all need to collide for any overcount to survive the
    // min — with the fixed structural constants this is deterministic,
    // and it measures zero (the ε = e/width claim as a pinned number)
    val cms = graft.operators.Sketches
      .cmsProfileSized(spark, sf, 1L << 16)
      .agg(max(col("overcount"))).head().getLong(0)
    assert(cms == 0L, s"production-width CMS still overcounts: $cms")
    // HLL at m = 2^14: every sf group sits far below 2.5m, so linear
    // counting with ~all-empty registers is near-exact — the band
    // tightens from the m=32 form's ±40% to ±2%
    graft.operators.Sketches.hllUserCountsSized(spark, sf, 14)
      .collect().foreach { r =>
        val ratio = r.getAs[Double]("est_over_exact")
        assert(ratio > 0.98 && ratio < 1.02,
          s"production-m HLL est_over_exact $ratio out of ±2% band")
      }
  }
}
