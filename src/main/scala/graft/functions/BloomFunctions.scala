package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernel.{argCheck, call, Bigint, BigintArray, Str}

/** Bloom-filter primitives over 64-bit digests, as native codegen'd
  * Catalyst expressions (the repo's zero-UDF rule) — the membership
  * sketch behind [[graft.operators.Decontam.bloomContamination]]'s
  * large-benchmark scale path.
  *
  * Probe positions come from Kirsch–Mitzenmacher double hashing (public
  * recipe: "Less Hashing, Same Performance", ESA'06): position_i =
  * (m + i·h2) mod numBits with h2 = (m >>> 32) | 1 — k positions from
  * ONE 64-bit digest, no per-probe rehash. The `| 1` keeps h2 odd, so
  * successive probes never collapse onto one position for even strides.
  * `m` is the digest passed through a murmur-style fmix64 finalizer
  * FIRST: raw KM double hashing is adversarially fragile to structured
  * input (two digests congruent in both `v mod numBits` and the h2
  * stride collide in ALL k positions — arithmetic progressions hit this
  * band, and a caller feeding small sequential longs degenerates h2 to
  * 1), while the finalizer's xor-shift/multiply avalanche makes every
  * input bit flip ~half the output bits, restoring the independent-ish
  * position family the (1−e^(−kn/m))^k sizing formula assumes for ANY
  * caller input — not just pre-hashed xxhash64. The i·h2 accumulation
  * deliberately wraps (Java long overflow): build and probe run the
  * SAME static method, and identical-input/identical-position is the
  * only property a Bloom filter needs from its hash family. One
  * compatibility consequence (r10 advice): the fmix64 pre-finalizer
  * landed in round 10 and moved EVERY probe position, so a filter's
  * words and its probes must come from the same code version — no
  * persisted-filter compatibility across that boundary: persisted
  * filters ([[graft.operators.Artifacts]]) carry
  * [[TextHashes.HashFamilyVersion]] and refuse to load across a
  * family change.
  *
  * The filter itself is a dense little-endian bitset: word w =
  * bits [64w, 64w+64), bit j of word w = position 64w + j. Built in
  * DataFrame algebra by [[graft.operators.Decontam.bloomFrom]]; probed
  * here in O(k) with an early exit on the first clear bit.
  */
object BloomFunctions {

  /** Word-index arithmetic uses `(pos >>> 6).toInt`, so the bitset is
    * addressable only while numBits/64 fits an Int — the typechecks
    * reject anything above 2³⁷ bits (16 GB — far past the 2²⁷ broadcast
    * budget documented on [[graft.operators.Decontam.bloomFrom]])
    * instead of silently wrapping to negative indices at analysis-clean
    * sizings.
    */
  val MaxNumBits: Long = 1L << 37

  private def sizing(numBits: Long, k: Int): Option[String] =
    argCheck(numBits >= 64 && numBits <= MaxNumBits && k >= 1 && k <= 64,
      s"requires 64 <= numBits <= $MaxNumBits and 1 <= k <= 64, got ($numBits, $k)")

  /** MurmurHash3's 64-bit finalizer (public domain, Austin Appleby):
    * two xor-shift/multiply rounds → full avalanche. Applied to every
    * digest before deriving KM probe positions (see class doc).
    */
  def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33
    h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33
    h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h
  }

  /** The k probe positions of digest `v` in a `numBits` filter.
    * Build-side twin of [[bloomContains]] — the two MUST stay one
    * formula (spec-pinned: positions set by the builder are exactly the
    * positions the probe reads).
    */
  def bloomPositions(v: Long, numBits: Long, k: Int): ArrayData = {
    val m = fmix64(v)
    val h2 = (m >>> 32) | 1L
    val out = new Array[Long](k)
    var p = m
    var i = 0
    while (i < k) {
      out(i) = java.lang.Math.floorMod(p, numBits)
      p += h2
      i += 1
    }
    new GenericArrayData(out)
  }

  /** True iff every probe position of `v` is set in the bitset `words`
    * (array<bigint>, [[bloomPositions]] layout). False ⇒ definitely not
    * inserted; true ⇒ inserted OR a false positive — the one-sided
    * error every caller documents. Early-exits on the first clear bit,
    * so the expected cost on non-members is ~1 probe, not k.
    */
  def bloomContains(words: ArrayData, v: Long, numBits: Long, k: Int): Boolean = {
    val m = fmix64(v)
    val h2 = (m >>> 32) | 1L
    var p = m
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(p, numBits)
      if ((words.getLong((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
        return false
      p += h2
      i += 1
    }
    true
  }

  /** Plain-array twin of [[bloomContains]] for the broadcast probe path
    * (a Broadcast ships a JVM long[], not Catalyst ArrayData). Same
    * formula line-for-line — BloomSpec's column-versus-broadcast
    * equality spec pins the two against drift.
    */
  def bloomContainsWords(v: Long, words: Array[Long], numBits: Long, k: Int): Boolean = {
    val m = fmix64(v)
    val h2 = (m >>> 32) | 1L
    var p = m
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(p, numBits)
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
        return false
      p += h2
      i += 1
    }
    true
  }

  /** `bloom_positions(digest)` → ARRAY<BIGINT> (see [[bloomPositions]]).
    * numBits/k are construction-time constants, baked into the
    * generated code as literals.
    */
  case class BloomPositions64(child: Expression, numBits: Long, k: Int)
      extends Kernel.Unary("bloom_positions", Bigint, ArrayType(LongType, containsNull = false)) {
    override protected def argError = sizing(numBits, k)
    protected def kernel = call(BloomFunctions, "bloomPositions", numBits, k)
    override protected def withNewChildInternal(c: Expression): BloomPositions64 = copy(child = c)
  }

  /** `bloom_contains(words, digest)` → BOOLEAN (see [[bloomContains]]). */
  case class BloomContains64(left: Expression, right: Expression, numBits: Long, k: Int)
      extends Kernel.Binary("bloom_contains", BigintArray, Bigint, BooleanType) {
    override protected def argError = sizing(numBits, k)
    protected def kernel = call(BloomFunctions, "bloomContains", numBits, k)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains64 =
      copy(left = l, right = r)
  }

  /** `bloom_contains_bc(digest)` → BOOLEAN — [[BloomContains64]] with
    * the bitset behind an `sc.broadcast` handle instead of a column:
    * the form frozen gate state takes. The expression carries only the
    * lightweight Broadcast reference, resolved once per generated-code
    * instance ([[Kernel]]), so the per-row probe reads a plain long[] —
    * same formula, same early exit ([[bloomContainsWords]]).
    */
  case class BloomContainsBroadcast64(child: Expression, words: Broadcast[Array[Long]],
      numBits: Long, k: Int) extends Kernel.Unary("bloom_contains_bc", Bigint, BooleanType) {
    override protected def argError = sizing(numBits, k)
    protected def kernel = call(BloomFunctions, "bloomContainsWords", words, numBits, k)
    override protected def withNewChildInternal(c: Expression): BloomContainsBroadcast64 =
      copy(child = c)
  }

  /** Dense little-endian bitset from the SPARSE (word-index, word)
    * pairs the builder's bit_or aggregation produces: one pass placing
    * each pair at its index, absent words zero — O(sparse + numWords),
    * replacing the per-slot map lookup that made the one-row assembly
    * O(numWords²) (each `try_element_at` over a map is a linear scan in
    * Catalyst). Order-insensitive: word indices are distinct after the
    * groupBy, so placement commutes and the collect_list needs no sort.
    * Caller contract (the builder's own aggregation guarantees both):
    * indices in [0, numWords), each at most once. An out-of-range index
    * fails loudly with the message below (r10 advice: a bare
    * ArrayIndexOutOfBoundsException here would read as an engine bug);
    * duplicate indices cannot be detected in O(1) and last-write-wins —
    * the expression is internal to bloomFrom's groupBy contract, which
    * cannot produce them.
    */
  def denseBitset(pairs: ArrayData, numWords: Int): ArrayData = {
    val out = new Array[Long](numWords)
    var i = 0
    val n = pairs.numElements()
    while (i < n) {
      val row = pairs.getStruct(i, 2)
      val idx = row.getLong(0)
      if (idx < 0 || idx >= numWords)
        throw new IllegalArgumentException(
          s"dense_bitset: word index $idx outside [0, $numWords) — input " +
            "violates the (index, word) contract of Decontam.bloomFrom")
      out(idx.toInt) = row.getLong(1)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Allocatable ceiling for [[DenseBitset64]]: 2²⁵ words = 2³¹ bits
    * (a 256 MB long array — already far past any broadcastable filter;
    * [[graft.operators.Decontam.bloomFrom]] documents 2²⁷ BITS as the
    * production budget). A ceiling derived from [[MaxNumBits]] >> 6 =
    * 2³¹ would exceed Int.MaxValue and could never fire on an Int
    * numWords (r10 advice: that guard was dead code).
    */
  val MaxDenseWords: Int = 1 << 25

  /** `dense_bitset(pairs)` → ARRAY<BIGINT> of length numWords (see
    * [[denseBitset]]). Input: array<struct<bigint, bigint>> of sparse
    * (word-index, word) pairs.
    */
  case class DenseBitset64(child: Expression, numWords: Int)
      extends Kernel.Unary("dense_bitset", IndexWordPairs, ArrayType(LongType, containsNull = false)) {
    override protected def argError = argCheck(numWords >= 1 && numWords <= MaxDenseWords,
      s"requires 1 <= numWords <= $MaxDenseWords, got $numWords")
    protected def kernel = call(BloomFunctions, "denseBitset", numWords)
    override protected def withNewChildInternal(c: Expression): DenseBitset64 = copy(child = c)
  }

  private val IndexWordPairs = new Kernel.In("array<struct<bigint, bigint>>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(s: StructType, _) => s.length == 2 && s.forall(_.dataType == LongType)
      case _ => false
    }
  }

  /** Digest family selectors for [[shingleHits]] — which 64-bit digest
    * the per-shingle Bloom probe feeds. Must mirror the batch side's
    * family exactly (the lockstep contract of each gate).
    */
  val FamilyFingerprint62 = 0
  val FamilyXxhash64 = 1

  /** Distinct word-n-gram census + Bloom hit count of a raw text value
    * in ONE compiled pass — the streaming decontam gates' hot loop,
    * fused (r15 verdict ask #4: the Bloom stage owned ~0.91 ms/row of
    * the admission composite, most of it the INTERPRETED
    * `array_distinct(transform(...))` shingle assembly plus the
    * per-element `filter(shingles, probe)` higher-order functions —
    * HOFs never codegen, and each window allocated a concat'd string).
    *
    * Exact semantics of the algebra it replaces: the census is
    * [[TextHashes.spanCensus]] (each distinct shingle a byte-span view,
    * probed ONCE, exactly like probing the distinct array) with a Bloom
    * probe as the membership test. Digests: [[FamilyFingerprint62]] →
    * [[TextHashes.fingerprint62]] over the span (the artifact-serving
    * gate's batch family), [[FamilyXxhash64]] → Spark's `xxhash64`
    * seed 42 over the span bytes (the self-building gate's family).
    * Returns total·2³² + hits packed in one BIGINT; fewer than n
    * tokens → 0.
    */
  def shingleHits(s: UTF8String, n: Int,
      words: Array[Long], numBits: Long, k: Int, family: Int): Long =
    TextHashes.spanCensus(s, n, span => bloomContainsWords(
      if (family == FamilyFingerprint62) TextHashes.fingerprint62(span)
      else XXH64.hashUnsafeBytes(span.getBaseObject, span.getBaseOffset, span.numBytes, 42L),
      words, numBits, k))

  /** `shingle_hits_bc(text)` → BIGINT total·2³² + hits (see
    * [[shingleHits]]), the bitset behind an `sc.broadcast` handle like
    * [[BloomContainsBroadcast64]]'s.
    */
  case class BloomShingleHitsBroadcast(child: Expression, words: Broadcast[Array[Long]],
      n: Int, numBits: Long, k: Int, family: Int)
      extends Kernel.Unary("shingle_hits_bc", Str, LongType) {
    override protected def argError =
      sizing(numBits, k).orElse(argCheck(n >= 1, s"requires n >= 1, got $n"))
        .orElse(argCheck(family == FamilyFingerprint62 || family == FamilyXxhash64,
          s"unknown digest family $family"))
    protected def kernel = call(BloomFunctions, "shingleHits", n, words, numBits, k, family)
    override protected def withNewChildInternal(c: Expression): BloomShingleHitsBroadcast =
      copy(child = c)
  }

  /** Column-API entry points. */
  def bloomPositionsCol(digest: Column, numBits: Long, k: Int): Column =
    column(BloomPositions64(expression(digest), numBits, k))
  def bloomContainsCol(words: Column, digest: Column, numBits: Long, k: Int): Column =
    column(BloomContains64(expression(words), expression(digest), numBits, k))
  def bloomContainsBroadcastCol(words: Broadcast[Array[Long]], digest: Column,
      numBits: Long, k: Int): Column =
    column(BloomContainsBroadcast64(expression(digest), words, numBits, k))
  def denseBitsetCol(pairs: Column, numWords: Int): Column =
    column(DenseBitset64(expression(pairs), numWords))

  /** [[shingleHits]] over a frozen bitset — the one factory both
    * streaming decontam gates call. The bitset always ships as an
    * `sc.broadcast` (one copy per executor, whatever its size).
    */
  def shingleHitsCol(spark: SparkSession, text: Column, n: Int, words: Array[Long],
      numBits: Long, k: Int, family: Int): Column =
    column(BloomShingleHitsBroadcast(expression(text), spark.sparkContext.broadcast(words),
      n, numBits, k, family))

  // ------------------------------------------------ oracle interpolation

  /** DuckDB replay of [[fmix64]] + [[bloomPositions]] — the SQL twin
    * that turned the Bloom consumers oracle-checkable in round 13.
    *
    * Java semantics an ANSI engine can't state directly: fmix64's two
    * multiplications wrap mod 2⁶⁴, and the KM stride accumulation wraps
    * signed int64. Both are exact in DuckDB HUGEINT:
    *   - values live UNSIGNED in [0, 2⁶⁴): Java `x >>> s` is `x >> s`
    *     there, and `xor` is bit-identical;
    *   - `h · C mod 2⁶⁴` via split multiply (hL·cL + ((hL·cH + hH·cL)
    *     mod 2³²)·2³² mod 2⁶⁴ — every intermediate < 2⁶⁵, far inside
    *     HUGEINT);
    *   - `floorMod(m + i·h2, numBits)` — the Java sum wraps signed, but
    *     for power-of-two numBits (all registered sizings) 2⁶⁴ ≡ 0 mod
    *     numBits, so the UNWRAPPED hugeint sum reduces mod numBits to
    *     the identical position. Enforced by the `require`.
    *
    * Emits CTEs `bf1..bf5, bfx, bfpos` over an existing CTE
    * `digestsCte(v)` of BIGINT digests (digests must be non-negative —
    * true for every portable 62-bit digest the repo feeds blooms):
    * `bfpos(v, i, pos)` holds each digest's k probe positions.
    */
  def duckPositionCtes(digestsCte: String, numBits: Long, k: Int): String = {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"oracle replay needs power-of-two numBits, got $numBits")
    def mulmod(c: Long): String = {
      val cL = c & 0xFFFFFFFFL
      val cH = c >>> 32
      s"((h % 4294967296) * $cL + " +
        s"(((h % 4294967296) * $cH + (h >> 32) * $cL) % 4294967296) " +
        s"* 4294967296) % 18446744073709551616"
    }
    s"""bf1 AS (SELECT v, xor(CAST(v AS HUGEINT), CAST(v AS HUGEINT) >> 33) AS h
       |        FROM $digestsCte),
       |bf2 AS (SELECT v, ${mulmod(0xFF51AFD7ED558CCDL)} AS h FROM bf1),
       |bf3 AS (SELECT v, xor(h, h >> 33) AS h FROM bf2),
       |bf4 AS (SELECT v, ${mulmod(0xC4CEB9FE1A85EC53L)} AS h FROM bf3),
       |bf5 AS (SELECT v, xor(h, h >> 33) AS m FROM bf4),
       |bfx AS (SELECT v, m,
       |               (m >> 32) + CASE WHEN (m >> 32) % 2 = 0 THEN 1 ELSE 0 END
       |                 AS h2
       |        FROM bf5),
       |bfpos AS MATERIALIZED (
       |  SELECT v, i, CAST((m + i * h2) % $numBits AS BIGINT) AS pos
       |  FROM bfx CROSS JOIN (SELECT unnest(range(0, $k)) AS i))""".stripMargin
  }
}
