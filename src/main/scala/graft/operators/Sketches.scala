package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{PortableRound, TextHashes}

/** PORTABLE sketches — Count-Min (Cormode–Muthukrishnan 2005) and
  * HyperLogLog (Flajolet et al. 2007), built so the finished sketch is a
  * pure function of the input SET, not of partitioning or merge order,
  * and therefore oracle-checkable cross-engine.
  *
  * The repo's other sketches (Misra–Gries heavy hitters, GK quantiles)
  * are *value*-correct within their error bounds but *state*-dependent
  * on merge order — two runs over different partitionings keep different
  * survivor sets, so their registered queries are rows-only by declared
  * design. These two close that gap from the other side: their merge
  * operators are commutative, associative AND idempotent-friendly
  * (CM cells merge by +, HLL registers by max), so the distributed
  * result is bit-identical to a sequential replay and a DuckDB twin can
  * reproduce every cell. This is the sketch family you choose when the
  * pipeline needs *reproducible* observability — e.g. comparing corpus
  * snapshots across engine versions, where an MG survivor-set diff
  * would be noise.
  *
  * Hashing is the repo's portable integer family: the char fold
  * ([[TextHashes.portableFold]], mult 31) lifted into Carter–Wegman rows
  * `(a·h + b) mod P` with P = 2³¹−1 (prime), every product < 2⁶² — all
  * int64, replayed verbatim by the interpolated oracles.
  *
  * 100 TB shape — both sketches are the textbook fixed-size exchange:
  *   - CM build: one scan, map-side partial SUM onto ≤ depth·width
  *     cells per partition, ONE exchange of ≤ depth·width 16-byte rows
  *     (4096 cells at the registered sizing) regardless of corpus size;
  *     point estimates broadcast the cell table.
  *   - HLL: one scan, map-side partial MAX onto ≤ groups·m register
  *     rows, one register-sized exchange — the classic "distinct users
  *     per key without a distinct shuffle". Exact distinct at 100 TB
  *     shuffles every (key, user) pair; this shuffles `m` longs per key.
  * Registered sizings are deliberately SMALL (width 16, m 32) so the sf
  * corpora exercise real collisions and the error columns are non-toy;
  * production sizings just raise the knobs (cells stay fixed-size).
  */
object Sketches {

  /** CW modulus: the Mersenne prime 2³¹−1 (products with 31-bit inputs
    * stay under 2⁶²).
    */
  val P: Long = 2147483647L

  // fixed CW rows (odd multipliers, < 2^31) — structural constants,
  // interpolated into the oracles so the two sides cannot drift
  val CmsDepth = 3
  val CmsWidth = 16
  val CmsA: Seq[Long] = Seq(1103515245L, 1588635695L, 1117695901L)
  val CmsB: Seq[Long] = Seq(12345L, 9876543L, 5555555L)

  val HllB = 5
  val HllM: Int = 1 << HllB // 32 registers
  val HllA: Long = 1299709L
  val HllC: Long = 104729L
  /** rho cap: h < 2³¹ → suffix h div m has 31−HllB = 26 bits; an
    * all-zero suffix reads rho = 27.
    */
  val HllRhoMax: Int = 31 - HllB + 1

  /** CW bucket of a 31-bit hash under row j at width w:
    * ((a_j·h + b_j) mod P) mod w — the production-sizing probe raises only
    * the outer modulus; the CW row family is width-agnostic.
    */
  private def cmsBucketW(h: Column, j: Int, width: Long): Column =
    pmod(pmod(lit(CmsA(j)) * h + lit(CmsB(j)), lit(P)), lit(width))

  /** The Count-Min cell table over the corpus token stream: one row per
    * (row j, bucket) with its summed count — THE sketch, as a DataFrame.
    * Build is one scan + one ≤ depth·width-row exchange (map-side
    * partial sum); merge of two tables is cell-wise +, order-free.
    */
  def cmsTable(spark: SparkSession, dir: String): DataFrame =
    cmsTableFrom(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(TextAnalytics.tokens(col("text"))).as("tok")))

  /** The d (j, bucket) structs of one token, as an array column — the
    * scan-side fan every CM consumer (batch table, streaming windowed
    * gate, the sized probe) explodes. One source of truth for the cell
    * formula at ANY width.
    */
  private[graft] def cmsCellCols(tok: Column,
      width: Long = CmsWidth.toLong): Column = {
    val h = TextHashes.portableFoldCol(tok)
    array((0 until CmsDepth).map(j =>
      struct(lit(j).as("j"), cmsBucketW(h, j, width).as("bucket"))): _*)
  }

  /** [[cmsTable]] over an arbitrary one-column (`tok`) token frame —
    * the composable form the merge-law spec exercises.
    */
  private[graft] def cmsTableFrom(tokens: DataFrame,
      width: Long = CmsWidth.toLong): DataFrame =
    tokens
      .select(explode(cmsCellCols(col("tok"), width)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Per-vocab-token CM error profile: exact count vs the sketch's
    * min-over-rows estimate and the (always ≥ 0) overcount. The
    * registered width (16) is intentionally smaller than the corpus
    * vocabulary so collisions are real and the one-sided-error contract
    * (`n_cms ≥ n_exact`, spec-pinned) is exercised, not vacuous.
    * Estimate side: the vocab frame is vocabulary-sized; the cell table
    * is 48 rows — both broadcast, zero corpus-proportional shuffle
    * beyond the build's fixed exchange.
    */
  def cmsProfile(spark: SparkSession, dir: String): DataFrame =
    cmsProfileSized(spark, dir, CmsWidth.toLong)

  /** Width-parameterized core of [[cmsProfile]] — the registered query
    * runs it at the structural [[CmsWidth]] (16, collisions real); the
    * bench production-sizing probe runs it at 2¹⁶ to show the exchange
    * stays fixed-size (depth·width cells — still corpus-independent)
    * while the overcount collapses to zero, as ε = e/width predicts.
    * Not separately oracle-checked: the sized form differs from the
    * oracle-green default only in the literal `width`.
    */
  private[graft] def cmsProfileSized(spark: SparkSession, dir: String,
      width: Long): DataFrame = {
    val cells = cmsTableFrom(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(TextAnalytics.tokens(col("text"))).as("tok")), width)
    val exact = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_exact"))
    val probes = exact
      .select(col("token"), col("n_exact"),
        explode(cmsCellCols(col("token"), width)).as("jb"))
      .select(col("token"), col("n_exact"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    probes.join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("token")
      .agg(first("n_exact").as("n_exact"), min("n").as("n_cms"))
      .select(col("token"), col("n_exact"), col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overcount"))
      .orderBy("token")
  }

  /** 31-bit NON-LINEAR portable hash of a bigint id: two rounds of the
    * quadratic x ← (x² + a·x + c) mod P over the id folded mod 2³¹
    * (products < 2⁶² — int64-safe). An affine CW row is NOT enough
    * here: sequential ids through an affine map stay an arithmetic
    * progression, whose register/rho structure is pathological for HLL
    * (measured 2×+ bias on the uniform-id testdata); one quadratic
    * round still carries visible AP residue, two rounds measure inside
    * the 1.04/√m band. Replayed verbatim by the oracle.
    */
  private def idHash(id: Column): Column = {
    def round(x: Column): Column =
      pmod(x * x + lit(HllA) * x + lit(HllC), lit(P))
    round(round(pmod(id, lit(2147483648L))))
  }

  /** Trailing-zero rank of the register suffix: rho = (index of lowest
    * set bit) + 1, `rhoMax` for an all-zero suffix — the generated
    * CASE ladder both engines share (no ntz builtin is portable). One
    * ladder for every register width (the fixed consumers pass
    * [[HllRhoMax]], the sized probe derives its own cap).
    */
  private def rho(suffix: Column, rhoMax: Int = HllRhoMax): Column =
    (1 until rhoMax).foldRight(lit(rhoMax): Column) { (k, acc) =>
      when(pmod(suffix, lit(1L << k)) === lit(1L << (k - 1)), lit(k))
        .otherwise(acc)
    }

  /** (register, rho) of an id column — the scan-side pair every HLL
    * consumer (batch registers, the streaming windowed gate, the sized
    * probe) derives rows from. The suffix uses an unsigned shift (m is
    * a power of two and h ≥ 0), the integral-division discipline of the
    * lengthProfile advice item.
    */
  private[graft] def hllRegCols(id: Column, b: Int = HllB): (Column, Column) = {
    val h = idHash(id)
    (pmod(h, lit((1L << b))), rho(shiftrightunsigned(h, b), 31 - b + 1))
  }

  /** HLL registers per group: (group, register, max rho). Merge of two
    * register tables is cell-wise MAX — order-free, idempotent (the
    * property MG lacks), which is also why re-processing a duplicate
    * input row cannot move any register.
    */
  private[graft] def hllRegisters(ids: DataFrame): DataFrame = {
    val (reg, rhoC) = hllRegCols(col("id"))
    ids.select(col("g"), reg.as("reg"), rhoC.as("rho"))
      .groupBy("g", "reg").agg(max("rho").as("r"))
  }

  /** The alpha_m bias constant (Flajolet et al.: m ≥ 128 uses
    * 0.7213/(1+1.079/m); the small-m table values are 0.709 for m=64,
    * 0.697 for m=32, 0.673 for m=16) — one table for the fixed constant
    * and the sized probe.
    */
  private[graft] def alphaFor(m: Int): Double =
    if (m >= 128) 0.7213 / (1 + 1.079 / m)
    else if (m == 64) 0.709
    else if (m == 32) 0.697
    else 0.673

  val HllAlpha: Double = alphaFor(HllM)

  /** Distinct users per event type, exact vs HLL — the reproducible
    * cardinality dashboard. Columns: the register-table shape
    * (`n_regs_hit`, `r_max`), the integer harmonic numerator, the raw
    * estimate, the small-range-corrected estimate (Flajolet's linear
    * counting below 2.5m when empty registers remain), and the
    * corrected/exact ratio.
    *
    * Exactness devices:
    *   - Z = Σ 2^(−R_i) is summed as the INTEGER numerator
    *     Σ 2^(Rmax−R_i) over all m registers (absent registers carry
    *     R=0 → 2^Rmax), so `raw = alpha·m²·2^Rmax / numerator` is one
    *     double multiply-chain and one division — deterministic in any
    *     IEEE engine, no accumulation order anywhere;
    *   - linear counting needs ln(m/V) — not IEEE-exactness-guaranteed,
    *     so its output is nano-quantized before use (the
    *     [[CorpusStats.sourceEntropy]] per-term device) and the branch
    *     condition compares the deterministic raw value, making the
    *     whole CASE replay engine-exact.
    */
  def hllUserCounts(spark: SparkSession, dir: String): DataFrame =
    hllUserCountsSized(spark, dir, HllB)

  /** Register-count-parameterized core of [[hllUserCounts]] — the
    * registered query runs the structural [[HllB]] (m = 32, collisions
    * real); the bench production-sizing probe runs b = 14 (m = 16,384)
    * to show the exchange stays m longs per key while the 1.04/√m band
    * collapses. Not separately oracle-checked: the sized form differs
    * from the oracle-green default only in the register-index width.
    */
  private[graft] def hllUserCountsSized(spark: SparkSession, dir: String,
      b: Int): DataFrame = {
    val m = 1 << b
    val alpha = alphaFor(m)
    val ids = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type").as("g"), col("user_id").as("id"))
    val (reg, rhoC) = hllRegCols(col("id"), b)
    val regs = ids.select(col("g"), reg.as("reg"), rhoC.as("rho"))
      .groupBy("g", "reg").agg(max("rho").as("r"))
    val agg = regs.groupBy("g").agg(
      count(lit(1)).as("n_regs_hit"),
      max("r").as("r_max"),
      // Σ over PRESENT registers of 2^(r_max − r): needs r_max first —
      // two-pass via self-agg would re-shuffle; instead sum 2^(RhoMax−r)
      // exactly and rescale by 2^(r_max−RhoMax) … but that loses
      // integerness when r_max < RhoMax. Keep it one pass: carry the
      // register list and fold after max is known (m rows/group).
      collect_list(col("r")).as("rs"))
    val exact = ids.groupBy("g").agg(countDistinct("id").as("n_exact"))
    agg.join(exact, Seq("g"))
      .withColumn("numer",
        expr("aggregate(rs, 0L, (acc, r) -> acc + shiftleft(1L, cast(r_max - r as int)))")
          + (lit(m.toLong) - col("n_regs_hit"))
          * expr("shiftleft(1L, cast(r_max as int))"))
      .withColumn("raw",
        lit(alpha) * lit((m.toLong * m).toDouble)
          * expr("shiftleft(1L, cast(r_max as int))").cast("double")
          / col("numer").cast("double"))
      .withColumn("corrected",
        when(col("raw") <= lit(2.5 * m) && col("n_regs_hit") < lit(m.toLong),
          lit(m.toDouble) *
            (floor(log(lit(m.toDouble) /
              (lit(m.toLong) - col("n_regs_hit")).cast("double"))
              * lit(1.0e9) + lit(0.5)) / lit(1.0e9)))
          .otherwise(col("raw")))
      .select(col("g").as("event_type"), col("n_regs_hit"), col("r_max"),
        col("numer"), col("n_exact"),
        PortableRound.r(col("raw"), 2).as("hll_raw"),
        PortableRound.r(col("corrected"), 2).as("hll_estimate"),
        PortableRound.r(col("corrected") / col("n_exact").cast("double"), 4)
          .as("est_over_exact"))
      .orderBy("event_type")
  }

  // ------------------------------------------------ oracle interpolation

  private def duckCmsBucket(h: String, j: Int): String =
    s"(((${CmsA(j)} * ($h) + ${CmsB(j)}) % $P) % $CmsWidth)"

  private def duckRho(suffix: String): String =
    (1 until HllRhoMax).map { k =>
      s"WHEN ($suffix) % ${1L << k} = ${1L << (k - 1)} THEN $k"
    }.mkString("CASE ", " ", s" ELSE $HllRhoMax END")

  val oracles: Map[String, String] = Map(
    "q_cms_profile" -> {
      val bucketRows = (0 until CmsDepth)
        .map(j => s"($j, ${duckCmsBucket("h", j)})")
      s"""WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |th AS MATERIALIZED (
        |  SELECT tok, ${TextHashes.duckFold("tok")} AS h FROM toks),
        |cells AS MATERIALIZED (
        |  SELECT j, bucket, count(*) AS n FROM (
        |    ${(0 until CmsDepth).map(j =>
             s"SELECT $j AS j, ${duckCmsBucket("h", j)} AS bucket FROM th")
             .mkString("\n    UNION ALL\n    ")})
        |  GROUP BY j, bucket),
        |exact AS (
        |  SELECT tok AS token, min(h) AS h, count(*) AS n_exact
        |  FROM th GROUP BY tok),
        |probes AS (
        |  SELECT token, n_exact, j, bucket FROM exact,
        |  LATERAL (SELECT * FROM (VALUES ${bucketRows.mkString(", ")})
        |           v(j, bucket)) l),
        |est AS (
        |  SELECT p.token, min(p.n_exact) AS n_exact, min(c.n) AS n_cms
        |  FROM probes p JOIN cells c USING (j, bucket)
        |  GROUP BY p.token)
        |SELECT token, n_exact, n_cms, n_cms - n_exact AS overcount
        |FROM est ORDER BY token""".stripMargin
    },
    "q_hll_users" -> {
      val m = HllM
      s"""WITH ids AS (
        |  SELECT event_type AS g, user_id AS id FROM events
        |  WHERE user_id IS NOT NULL),
        |h0 AS (
        |  SELECT g, ${TextAnalytics.duckPmod31("id")} AS x
        |  FROM ids),
        |h1 AS (SELECT g, (((x * x + $HllA * x + $HllC) % $P) + $P) % $P AS x
        |       FROM h0),
        |hh AS (SELECT g, (((x * x + $HllA * x + $HllC) % $P) + $P) % $P AS h
        |       FROM h1),
        |regs AS MATERIALIZED (
        |  SELECT g, h % $m AS reg, max(${duckRho(s"h // $m")}) AS r
        |  FROM hh GROUP BY g, h % $m),
        |rmax AS (SELECT g, max(r) AS r_max, count(*) AS n_regs_hit
        |         FROM regs GROUP BY g),
        |numer AS (
        |  SELECT r2.g,
        |         CAST(sum(CAST(1 AS BIGINT) << CAST(rm.r_max - r2.r AS INT))
        |              AS BIGINT)
        |         + ($m - rm.n_regs_hit)
        |           * (CAST(1 AS BIGINT) << CAST(rm.r_max AS INT)) AS numer
        |  FROM regs r2 JOIN rmax rm USING (g)
        |  GROUP BY r2.g, rm.r_max, rm.n_regs_hit),
        |exact AS (SELECT g, count(DISTINCT id) AS n_exact FROM ids GROUP BY g),
        |est AS (
        |  SELECT rm.g, rm.n_regs_hit, rm.r_max, n.numer, e.n_exact,
        |         $HllAlpha * ${(HllM.toLong * HllM).toDouble}
        |           * CAST(CAST(1 AS BIGINT) << CAST(rm.r_max AS INT) AS DOUBLE)
        |           / CAST(n.numer AS DOUBLE) AS raw
        |  FROM rmax rm JOIN numer n USING (g) JOIN exact e USING (g)),
        |corr AS (
        |  SELECT *, CASE WHEN raw <= ${2.5 * HllM} AND n_regs_hit < $m
        |            THEN ${m.toDouble} *
        |              (floor(ln(${m.toDouble} /
        |                 CAST($m - n_regs_hit AS DOUBLE)) * 1000000000 + 0.5)
        |               / 1000000000)
        |            ELSE raw END AS corrected
        |  FROM est)
        |SELECT g AS event_type, n_regs_hit, r_max, numer, n_exact,
        |       floor(raw * 100 + 0.5) / 100.0 AS hll_raw,
        |       floor(corrected * 100 + 0.5) / 100.0 AS hll_estimate,
        |       floor(corrected / CAST(n_exact AS DOUBLE) * 10000 + 0.5) / 10000.0
        |         AS est_over_exact
        |FROM corr
        |ORDER BY event_type""".stripMargin
    }
  )
}
