package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernel.{argCheck, call, Bigint, BigintArray, Str, StrArray}

/** Native Catalyst expressions for the text-pipeline extensions (document
  * fingerprinting, SimHash near-dup). Implemented as `Expression`s rather
  * than Scala UDFs so they stay inside whole-stage codegen / avoid
  * serialization overhead in the 100 TB hot path (builder-prompt preference
  * order (b): custom Expression beats UDF).
  */
object TextHashes {

  /** The repo-wide portable-fold modulus (2³¹) — every cross-engine
    * hash below stays inside it so products with < 2³¹ multipliers
    * never leave int64 (the ANSI-safe rule the winnow family proved).
    */
  private val FoldM = 2147483648L

  /** Portable polynomial fold of a string: h ← (h·mult + cp%256) mod
    * 2³¹ over the string's code points — the native form of the
    * [[graft.operators.TextAnalytics]] winnow token fold
    * (`aggregate(transform(split(t, ""), c → pmod(ascii(c), 256)), …)`,
    * equality property-spec'd incl. non-ASCII), and the DuckDB twin's
    * `list_reduce` over `string_split(t, '')`. One pass, no per-row
    * array allocation — the column-algebra form materializes the split
    * array and runs the fold interpreted (higher-order functions never
    * codegen).
    */
  def portableFold(s: UTF8String, mult: Long): Long = {
    // ASCII fast path: every byte IS its code point, so the fold runs
    // over the raw UTF-8 bytes with ZERO allocation — this is the
    // suite's hottest loop (every shingle/minhash/winnow/DSIR hash) and
    // the corpus is overwhelmingly ASCII. A non-ASCII byte falls back
    // to the decoded form (identical result, exercised by the non-ASCII
    // property spec).
    val nb = s.numBytes()
    var h = 0L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b < 0) return portableFoldDecoded(s, mult)
      h = (h * mult + b) % FoldM
      i += 1
    }
    h
  }

  private def portableFoldDecoded(s: UTF8String, mult: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp % 256) % FoldM
      i += Character.charCount(cp)
    }
    h
  }

  /** `portable_fold(str, mult)` → BIGINT (see [[portableFold]]). */
  case class PortableFold(child: Expression, mult: Long)
      extends Kernel.Unary("portable_fold", Str, LongType) {
    override protected def argError =
      argCheck(mult >= 1 && mult < FoldM, s"mult must be in [1, 2^31), got $mult")
    protected def kernel = call(TextHashes, "portableFold", mult)
    override protected def withNewChildInternal(c: Expression): PortableFold = copy(child = c)
  }

  /** 62-bit portable document fingerprint: two independent portable
    * folds (multipliers 31 and 131) packed as h₁₃₁·2³¹ + h₃₁ — wide
    * enough that two documents collide only when BOTH folds collide,
    * and every intermediate stays in int64, so a DuckDB twin reproduces
    * it exactly (unlike the 64-bit wraparound rolling hash this
    * replaced, whose multiply-overflow no ANSI SQL can express).
    * Replaces reference fingerprinting use cases
    * (content identity, novelty diffing) with an oracle-checkable form.
    */
  case class PortableFingerprint(child: Expression)
      extends Kernel.Unary("fingerprint62", Str, LongType) {
    protected def kernel = call(TextHashes, "fingerprint62")
    override protected def withNewChildInternal(c: Expression): PortableFingerprint =
      copy(child = c)
  }

  /** Both folds in one pass over the code points (see
    * [[PortableFingerprint]]).
    */
  def fingerprint62(s: UTF8String): Long = {
    // same ASCII fast path as [[portableFold]] (this runs per shingle
    // in the Bloom decontam probe and per doc in the dedup census)
    val nb = s.numBytes()
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b < 0) return fingerprint62Decoded(s)
      h1 = (h1 * 31 + b) % FoldM
      h2 = (h2 * 131 + b) % FoldM
      i += 1
    }
    h2 * FoldM + h1
  }

  private def fingerprint62Decoded(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val c = cp % 256
      h1 = (h1 * 31 + c) % FoldM
      h2 = (h2 * 131 + c) % FoldM
      i += Character.charCount(cp)
    }
    h2 * FoldM + h1
  }

  /** Character-bigram bucket-id sum — the langIdNgram profile score as
    * one pass over the string: Σ ((cp₁%256)·31 + cp₂%256) % 7 over
    * adjacent char pairs. Identical to the column-algebra formulation
    * (split + transform + aggregate) for BMP input, but with zero per-row
    * array allocations; supplementary-plane input is outside the contract
    * (same caveat as the DuckDB oracle twin).
    */
  def bigramScore(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length - 1) {
      acc += ((str.charAt(i) % 256) * 31 + (str.charAt(i + 1) % 256)) % 7
      i += 1
    }
    acc
  }

  private val MinhashP = 2147483647L // 2^31 − 1, Mersenne prime
  private val MaxK = 64
  // Carter-Wegman coefficient tables (same formulas as the original
  // column-algebra minhash in Dedup — values must not change, the seeded
  // LSH fixtures pin them)
  private val MinhashA: Array[Long] =
    Array.tabulate(MaxK)(j => ((2654435761L * (j + 1)) & 0x7FFFFFFEL) | 1L)
  private val MinhashB: Array[Long] =
    Array.tabulate(MaxK)(j => (40503L * (j + 7)) & 0x7FFFFFFFL)

  /** All k MinHash minima in ONE pass over the (31-bit-folded) shingle
    * hash array: out_j = min over shingles of (a_j·h + b_j) mod P. The
    * column-algebra form (k × array_min(transform(...))) allocates k
    * arrays per row; this walks the input once, k running minima in
    * registers. Inputs are ≤ 2³¹, coefficients ≤ 2³¹ → products < 2⁶²,
    * inside Long (the repo 31-bit rule).
    *
    * Returns null for an empty array or any null element — the same
    * semantics as the replaced `array_min(transform(...))` algebra
    * (min over nothing / over null is NULL), NOT a Long.MaxValue
    * signature that would band-hash every empty doc into one bucket.
    */
  def minhashSigs(h: ArrayData, k: Int): ArrayData = {
    val n = h.numElements()
    if (n == 0) return null
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (h.isNullAt(i)) return null
      val x = h.getLong(i)
      var j = 0
      while (j < k) {
        val v = (MinhashA(j) * x + MinhashB(j)) % MinhashP
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `minhash_sigs(array<bigint>, k)` → ARRAY<BIGINT> (see [[minhashSigs]]). */
  case class MinHashSigs(child: Expression, k: Int)
      extends Kernel.Unary("minhash_sigs", BigintArray, ArrayType(LongType, containsNull = false)) {
    override protected def argError = argCheck(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")
    override protected def kernelNullable = true
    protected def kernel = call(TextHashes, "minhashSigs", k)
    override protected def withNewChildInternal(c: Expression): MinHashSigs = copy(child = c)
  }

  /** `bigram_score(str)` → BIGINT (see [[bigramScore]]). */
  case class BigramScore(child: Expression)
      extends Kernel.Unary("bigram_score", Str, LongType) {
    protected def kernel = call(TextHashes, "bigramScore")
    override protected def withNewChildInternal(c: Expression): BigramScore = copy(child = c)
  }

  /** Per-token SimHash bit-pattern constants: the token's portable fold
    * x is expanded to 62 decorrelated bits via two Carter-Wegman mixes
    * ((a·x + b) mod P, classic PRNG multipliers — public constants),
    * packed lo | hi·2³¹. Named so the DuckDB oracle generators
    * interpolate the SAME values (operator and oracle cannot
    * desynchronize).
    */
  /** Version of the repo's portable hash family, stamped into every
    * persisted artifact ([[graft.operators.Artifacts]]) so a filter or
    * codebook built by an older family refuses to load instead of
    * silently probing wrong positions. History: 1 = the 64-bit
    * wraparound forms (≤ r12); 2 = the first portable cut (affine CW
    * simhash patterns, early r13); 3 = quadratic simhash mixes (r13);
    * 4 = pair-combine bigram buckets
    * ([[graft.operators.Perplexity.bigramBuckets]], r14 — the
    * concat-fold form retired).
    */
  val HashFamilyVersion = 4

  val SimHashBits = 62
  val SimA1 = 1103515245L
  val SimB1 = 12345L
  val SimA2 = 69069L
  val SimB2 = 362437L

  /** The packed 62-bit pattern of one token (see [[SimHashPortable]]).
    *
    * QUADRATIC mixes, not affine (changed mid-round-13): affine CW rows
    * over the fold keep bit b of `(a·x+b) mod P` correlated between
    * tokens with nearby folds; one squaring per half (x² + a·x + b mod
    * P, products < 2⁶² — the [[graft.operators.Sketches]] id-mix
    * device) breaks the linearity while staying int64-replayable.
    * Recall context (sf0.1 Jaccard-truth tracker, 79 pairs): affine
    * 0.734 → quadratic 0.759. The r12 value 0.97 came from the 64-bit
    * avalanche family this replaced and was a LUCKY DRAW, not a level
    * this algorithm sustains here: measured across 6 random
    * pattern-table draws at both 62 and 64 bits, recall on this corpus
    * spans 0.61–0.79 (the truth pairs' hamming distances sit right at
    * the maxHamming=3 contract boundary), so 0.759 is the favorable end
    * of the typical band — document drift against THAT band, not
    * against r12's outlier.
    */
  def simhashPattern(t: UTF8String): Long = {
    val x = portableFold(t, 31)
    val lo = (x * x + SimA1 * x + SimB1) % MinhashP
    val hi = (lo * lo + SimA2 * lo + SimB2) % MinhashP
    lo | (hi << 31)
  }

  /** Portable SimHash over a token array — Charikar, STOC 2002
    * ("Similarity estimation techniques from rounding algorithms"),
    * public algorithm, fresh implementation: each token contributes its
    * 62-bit pattern ([[simhashPattern]]) with +1/−1 per bit position;
    * the sign vector is the fingerprint. Near-duplicate docs differ in
    * few bits (compare with `bit_count(a ^ b)` — a Spark built-in);
    * the Manku 4×16-bit chunk scheme applies unchanged (the top chunk
    * simply carries 14 live bits). Every step is portable integer math
    * — folds mod 2³¹, CW mixes mod 2³¹−1, bit tests — so a DuckDB twin
    * replays the exact fingerprint, which the 64-bit wraparound form
    * this replaced could never do.
    */
  case class SimHashPortable(child: Expression)
      extends Kernel.Unary("simhash62", StrArray, LongType) {
    protected def kernel = call(TextHashes, "simhash62")
    override protected def withNewChildInternal(c: Expression): SimHashPortable = copy(child = c)
  }

  def simhash62(arr: ArrayData): Long = {
    val counts = new Array[Int](SimHashBits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val p = simhashPattern(arr.getUTF8String(i))
        var b = 0
        while (b < SimHashBits) {
          if (((p >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < SimHashBits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** All stride-1 n-token window hashes in ONE pass over the raw bytes:
    * out_i = xxhash64 (seed 42, Spark's `xxhash64`) of the byte span
    * from the start of token i to the end of token i+n−1. Splitting on
    * every single space and rejoining a window with single spaces is
    * the IDENTITY on the original substring (empty tokens from runs of
    * spaces round-trip too, and 0x20 never occurs inside a UTF-8
    * multibyte sequence), so the span hash is byte-identical to
    * `xxhash64(concat_ws(" ", slice(split(s, " "), i+1, n)))` — the
    * column-algebra formula it replaces (property-spec'd against it) —
    * with zero per-window allocation: no window string is ever
    * materialized, the hash reads the input buffer in place. Fewer than
    * n tokens → empty array (the algebra form's sequence guard).
    */
  def ngramHashes64(s: UTF8String, n: Int): ArrayData = {
    val t = tokenBoundaries(s)
    val out = new Array[Long](math.max(t.count - n + 1, 0))
    var w = 0
    while (w < out.length) { out(w) = t.xxhash(w, w + n); w += 1 }
    new GenericArrayData(out)
  }

  /** `ngram_hashes64(str, n)` → ARRAY<BIGINT> (see [[ngramHashes64]]). */
  case class NgramHashes64(child: Expression, n: Int)
      extends Kernel.Unary("ngram_hashes64", Str, ArrayType(LongType, containsNull = false)) {
    override protected def argError = argCheck(n >= 1, s"n must be >= 1, got $n")
    protected def kernel = call(TextHashes, "ngramHashes64", n)
    override protected def withNewChildInternal(c: Expression): NgramHashes64 = copy(child = c)
  }

  /** Per-document word-n-gram repetition census in ONE compiled pass —
    * the fused per-row form of the q_ngram_repetition relational
    * aggregation (and the engine room of the streaming repetition
    * gate): counts every word n-gram of the text (split on every 0x20,
    * empty tokens kept — the `split` convention) and returns the four
    * INTEGER ingredients of the Gopher repetition fractions as a struct
    * `(n_grams, top_c, top_glen, dup_c)`: total gram occurrences, the
    * count of the most frequent gram, that gram's token-character
    * length (codepoints minus its n−1 separators), and the number of
    * occurrences whose gram appears ≥ 2 times. All outputs are exact
    * integers, so the fraction arithmetic (and its PortableRound) stays
    * in column algebra and cannot diverge between the fused and
    * relational spellings. Top-gram tie-break: (count, char length,
    * gram bytes) all DESC — binary string order, the exact relational /
    * oracle window rule.
    *
    * Gram keys are zero-copy views into the row's UTF-8 buffer (a gram
    * IS the byte span from its first token's start to its last token's
    * end, because separators are single 0x20 bytes — the
    * [[winnowSelect]] span argument); the only per-doc allocation is
    * the count map any one-pass exact census needs, O(distinct grams).
    * That map is per-DOCUMENT and in-heap: unlike the relational
    * spelling (whose shuffle aggregation can spill), one pathologically
    * large document bounds executor memory by its distinct-gram count —
    * the documented scale contract of the fused form (fall back to the
    * relational `ngramRepetitionAlgebra` for corpora with single docs
    * in the 10⁸-token class). Docs with fewer than n tokens return NULL
    * (the relational form emits no (doc, n) row — gate callers treat
    * NULL as "cannot be repetitive").
    */
  def ngramRepStats(s: UTF8String, n: Int): InternalRow = gramCensus(tokenBoundaries(s), n)

  /** The token scanner every span kernel shares: tokens split on every
    * 0x20 byte with empty tokens kept (Spark's `split(s, " ")`), found in
    * two passes over the bytes — count the spaces, then record where each
    * token starts. 0x20 never occurs inside a UTF-8 multibyte sequence,
    * so splitting on every space and rejoining a run of tokens with
    * single spaces is the identity on the original substring: tokens
    * [i, j) ARE one byte span of the input, hashed or compared in place
    * with no window string materialized. The counting pass also counts
    * the NON-SPACE code points (UTF-8 continuation bytes 10xxxxxx
    * excluded — `length(replace(s, ' ', ''))` exactly), which
    * [[ngramRepStatsMulti]] ships so callers drop their own pass for it.
    */
  def tokenBoundaries(s: UTF8String): Tokens = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var spaces = 0
    var cps = 0
    var i = 0
    while (i < len) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b == 0x20) spaces += 1
      if ((b & 0xC0) != 0x80) cps += 1
      i += 1
    }
    val starts = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(t) = i + 1; t += 1
      }
      i += 1
    }
    starts(spaces + 1) = len + 1
    new Tokens(s, starts, cps - spaces)
  }

  /** The tokens of one text (see [[tokenBoundaries]]): `starts(j)` is
    * token j's first byte, and the sentinel `starts(count) = len + 1`
    * makes the end of token j uniformly `starts(j + 1) − 1`.
    */
  final class Tokens(s: UTF8String, starts: Array[Int], val nonSpaceChars: Int) {
    val count: Int = starts.length - 1
    def start(j: Int): Int = starts(j)
    def end(j: Int): Int = starts(j + 1) - 1
    /** Tokens [i, j) as a zero-copy view of the text's bytes. */
    def span(i: Int, j: Int): UTF8String =
      UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + starts(i), end(j - 1) - starts(i))
    /** Spark's `xxhash64` (seed 42) of tokens [i, j), read in place. */
    def xxhash(i: Int, j: Int): Long =
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + starts(i),
        end(j - 1) - starts(i), 42L)
  }

  /** [[portableFold]](·, 31) of every token — the winnow and bucket-score
    * token hash (a fold over zero bytes is 0, so empty tokens hash 0).
    */
  private def tokenFolds(t: Tokens): Array[Long] = {
    val th = new Array[Long](t.count)
    var i = 0
    while (i < th.length) { th(i) = portableFold(t.span(i, i + 1), 31); i += 1 }
    th
  }

  /** The distinct-shingle census shared by the decontam gates: each
    * DISTINCT n-token span (byte equality, exactly `array_distinct` over
    * the algebra's shingle array) is tested ONCE with `member`, exactly
    * like `array_intersect(distinct_shingles, bench)` or a probe of the
    * distinct array. Returns total·2³² + hits packed in one BIGINT (both
    * counts are bounded by the token count of a ≤ 2³¹-byte string, so the
    * packing is exact); fewer than n tokens → 0.
    */
  def spanCensus(s: UTF8String, n: Int, member: UTF8String => Boolean): Long = {
    val t = tokenBoundaries(s)
    val nWin = t.count - n + 1
    if (nWin <= 0) return 0L
    val seen = new java.util.HashSet[UTF8String](nWin * 2)
    var total = 0L
    var hits = 0L
    var w = 0
    while (w < nWin) {
      val span = t.span(w, w + n)
      if (seen.add(span)) {
        total += 1
        if (member(span)) hits += 1
      }
      w += 1
    }
    (total << 32) | hits
  }

  /** The census half of [[ngramRepStats]] over a prepared boundary
    * array — factored out so the single-n and multi-n forms run the
    * IDENTICAL count/tie-break algorithm (the multi form cannot diverge
    * from the spec-pinned single-n results by construction).
    */
  private def gramCensus(t: Tokens, n: Int): GenericInternalRow = {
    val ng = t.count - n + 1
    if (ng <= 0) return null
    val counts = new java.util.HashMap[UTF8String, Array[Int]](ng * 2)
    var g = 0
    while (g < ng) {
      val gram = t.span(g, g + n)
      val c = counts.get(gram)
      if (c == null) counts.put(gram, Array(1)) else c(0) += 1
      g += 1
    }
    var topC = 0L
    var topGlen = 0
    var topGram: UTF8String = null
    var dupC = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey
      val c = e.getValue()(0).toLong
      if (c >= 2L) dupC += c
      if (c > topC) {
        topC = c; topGram = key; topGlen = key.numChars() - (n - 1)
      } else if (c == topC) {
        val gl = key.numChars() - (n - 1)
        if (gl > topGlen || (gl == topGlen && key.compareTo(topGram) > 0)) {
          topGram = key; topGlen = gl
        }
      }
    }
    new GenericInternalRow(Array[Any](ng.toLong, topC, topGlen, dupC))
  }

  /** Per-document Gopher rule-set census in ONE compiled pass — the
    * fused engine room of [[graft.operators.TextAnalytics]]'
    * `withGopherColumns` (r18; the algebra spelling is retained there
    * spec-pinned): returns the six INTEGER ingredients of the five
    * MassiveText rules as a struct
    * `(n_tokens, n_chars, hash_count, ellipsis_count, alpha_tokens,
    * stop_hits)` — token count (split on every 0x20, empty tokens
    * kept), non-space codepoint count, '#' byte count, GREEDY
    * left-to-right non-overlapping "..." count (exactly
    * `(length(t) − length(replace(t, "...", ""))) / 3` — five dots
    * count ONE), tokens containing an ASCII letter, and DISTINCT
    * stopword-list members present. All ratio arithmetic and rounding
    * stays in the shared column algebra, so the fused and algebra
    * spellings cannot diverge on float paths. Byte-level scans are
    * UTF-8-safe ('#', '.', a–z are single-byte; multibyte continuation
    * bytes are ≥ 0x80); the codepoint count falls out of the same pass
    * (bytes that are not continuation bytes). The replaced algebra
    * form paid one interpreted regex filter per token (`rlike`) plus
    * one `array_contains` sweep per stopword.
    */
  def gopherStats(s: UTF8String, stop: java.util.HashMap[UTF8String, Integer]): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    // distinct-stopword tracking as a LOCAL bitmask (list capped at 64
    // members): allocation-free AND race-free — a shared scratch array
    // would be written by every local[n] thread through the one
    // referenced expression object
    var seenMask = 0L
    var nTok = 0
    var chars = 0
    var hashes = 0
    var ellipsis = 0
    var alphaToks = 0
    var stopHits = 0
    var tokStart = 0
    var dotRun = 0
    var tokHasAlpha = false
    var i = 0
    while (i <= len) {
      val b = if (i < len) org.apache.spark.unsafe.Platform.getByte(base, off + i)
        else 0x20.toByte
      if (b == 0x20) {
        // token [tokStart, i) closes
        nTok += 1
        if (tokHasAlpha) alphaToks += 1
        val tok = UTF8String.fromAddress(base, off + tokStart, i - tokStart)
        val idx = stop.get(tok)
        if (idx != null && (seenMask & (1L << idx.intValue())) == 0L) {
          seenMask |= 1L << idx.intValue(); stopHits += 1
        }
        tokStart = i + 1
        tokHasAlpha = false
        dotRun = 0
        if (i < len) chars += 1 // the separator space is one codepoint
      } else {
        if (b == '#') hashes += 1
        if (b == '.') {
          dotRun += 1
          if (dotRun == 3) { ellipsis += 1; dotRun = 0 }
        } else dotRun = 0
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) tokHasAlpha = true
        // count codepoints: every byte except UTF-8 continuations (10xxxxxx)
        if ((b & 0xC0) != 0x80) chars += 1
      }
      i += 1
    }
    // n_chars is the NON-SPACE codepoint count (length(replace(t,' ','')))
    val nChars = chars - (nTok - 1)
    new GenericInternalRow(Array[Any](nTok, nChars, hashes, ellipsis, alphaToks, stopHits))
  }

  /** Result schema of [[gopherStats]]. */
  val GopherStatsType: DataType = StructType(
    Seq("n_tokens", "n_chars", "hash_count", "ellipsis_count",
      "alpha_tokens", "stop_hits").map(StructField(_, IntegerType, nullable = false)))

  /** `gopher_stats(str)` → STRUCT (see [[gopherStats]]); the stopword →
    * bit-index map is the read-only shared reference, all per-row state
    * is local. `pushable`: see [[Kernel.Pushable]].
    */
  case class GopherStats(child: Expression, stopwords: Seq[String],
      pushable: Boolean = true)
      extends Kernel.Unary("gopher_stats", Str, GopherStatsType) with Kernel.Pushable {
    override protected def argError = argCheck(stopwords.nonEmpty && stopwords.size <= 64 &&
      !stopwords.contains("") && !stopwords.exists(_.contains(" ")),
      "requires 1..64 stopwords without \"\" or spaces")
    protected def kernel = {
      val m = new java.util.HashMap[UTF8String, Integer](stopwords.size * 2)
      stopwords.zipWithIndex.foreach { case (w, i) =>
        m.put(UTF8String.fromString(w), Integer.valueOf(i)) }
      call(TextHashes, "gopherStats", m)
    }
    override protected def withNewChildInternal(c: Expression): GopherStats = copy(child = c)
  }

  /** Result schema of [[ngramRepStats]]. */
  val NgramRepStatsType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("top_c", LongType, nullable = false),
    StructField("top_glen", IntegerType, nullable = false),
    StructField("dup_c", LongType, nullable = false)))

  /** `ngram_rep_stats(str, n)` → STRUCT (see [[ngramRepStats]]). */
  case class NgramRepStats(child: Expression, n: Int)
      extends Kernel.Unary("ngram_rep_stats", Str, NgramRepStatsType) {
    override protected def argError = argCheck(n >= 1, s"n must be >= 1, got $n")
    override protected def kernelNullable = true
    protected def kernel = call(TextHashes, "ngramRepStats", n)
    override protected def withNewChildInternal(c: Expression): NgramRepStats = copy(child = c)
  }

  /** Multi-n word-n-gram repetition census in ONE compiled pass (r19):
    * the [[ngramRepStats]] census at every requested gram size over a
    * SINGLE token-boundary scan — the boundary/starts pass (two sweeps
    * of the text bytes) runs once instead of once per n, and the
    * non-space codepoint count falls out of the same sweep so callers
    * drop their separate `length(replace(text, ' ', ''))` pass too.
    * Per-n census results are produced by the IDENTICAL [[gramCensus]]
    * the single-n expression calls, so the two spellings cannot
    * diverge. Returns `(s<n1>, s<n2>, …, n_chars)` where each `s<n>` is
    * the [[NgramRepStatsType]] struct (NULL when the doc has fewer than
    * n tokens — the single-n convention) and `n_chars` is the non-space
    * codepoint count. Same per-document in-heap memory contract as
    * [[ngramRepStats]], summed over the requested sizes.
    */
  def ngramRepStatsMulti(s: UTF8String, ns: Array[Int]): InternalRow = {
    val t = tokenBoundaries(s)
    val out = new Array[Any](ns.length + 1)
    var j = 0
    while (j < ns.length) { out(j) = gramCensus(t, ns(j)); j += 1 }
    out(ns.length) = t.nonSpaceChars
    new GenericInternalRow(out)
  }

  /** Result schema of [[ngramRepStatsMulti]] at the given gram sizes. */
  def ngramRepStatsMultiType(ns: Seq[Int]): DataType =
    StructType(ns.map(n => StructField(s"s$n", NgramRepStatsType, nullable = true)) :+
      StructField("n_chars", IntegerType, nullable = false))

  /** `ngram_rep_stats_multi(str, ns)` → STRUCT (see
    * [[ngramRepStatsMulti]]). `ns` is a Seq (not Array) so expression
    * equality/canonicalization sees value equality — optimizer copies
    * of this node stay CSE-mergeable (the BpeSegment.Counter lesson).
    * `pushable = false` is the [[Kernel.Pushable]] device: without it the
    * multi landed text_gate at 2.1k rows/s against 4.6k.
    */
  case class NgramRepStatsMulti(child: Expression, ns: Seq[Int],
      pushable: Boolean = true)
      extends Kernel.Unary("ngram_rep_stats_multi", Str, ngramRepStatsMultiType(ns))
      with Kernel.Pushable {
    override protected def argError = argCheck(
      ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct.size == ns.size,
      s"ns must be distinct and >= 1, got $ns")
    override protected def kernelNullable = true
    protected def kernel = call(TextHashes, "ngramRepStatsMulti", ns.toArray)
    override protected def withNewChildInternal(c: Expression): NgramRepStatsMulti =
      copy(child = c)
  }

  /** Winnowing selection over a raw text value in ONE compiled pass —
    * the streaming fingerprint head (r16; the admission attribution
    * put the winnow gate at ~0.66 ms/row, almost all of it the
    * chained-`aggregate` algebra form's interpreted fold steps, each
    * allocating a fresh ring-buffer array per token). Returns the
    * DISTINCT packed (gram_hash·2³² + gram_pos) per-window minima in
    * first-occurrence order — exactly the value set the algebra form
    * ([[graft.operators.TextAnalytics]]' winnowFpArrayAlgebra) emits,
    * spec-pinned array-for-array.
    *
    * Same formula, one spelling: tokens split on every 0x20 (empty
    * tokens kept — fold over zero bytes is 0), token hashes are
    * [[portableFold]](·, 31) over the byte span (0x20 never occurs
    * inside a UTF-8 multibyte sequence, so spans ARE the split tokens),
    * gram hashes fold k token hashes with multiplier 1000003 mod 2³¹,
    * and the min over each w consecutive packed combs comes from a
    * monotonic index deque — O(tokens·k) work, no per-step allocation.
    * Packed combs are pairwise distinct (the pos low bits), so window
    * minima are unique and the deque needs no tie policy. Fewer than
    * w complete windows (ng < w) → empty array.
    */
  def winnowSelect(s: UTF8String, k: Int, w: Int): ArrayData = {
    val t = tokenBoundaries(s)
    val ng = t.count - k + 1
    if (ng < w) return new GenericArrayData(Array.emptyLongArray)
    val th = tokenFolds(t)
    val combs = new Array[Long](ng)
    var p = 0
    while (p < ng) {
      var g = 0L
      var j = 0
      while (j < k) { g = (g * 1000003L + th(p + j)) % FoldM; j += 1 }
      combs(p) = (g << 32) | p.toLong
      p += 1
    }
    val dq = new Array[Int](ng)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    p = 0
    while (p < ng) {
      while (tail > head && combs(dq(tail - 1)) > combs(p)) tail -= 1
      dq(tail) = p
      tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w - 1) {
        val m = combs(dq(head))
        if (seen.add(m)) out += m
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `winnow_select(text)` → ARRAY<BIGINT> of distinct packed
    * (gram·2³² + pos) winnow selections (see [[winnowSelect]]); k/w are
    * construction-time constants baked into the generated call.
    */
  case class WinnowSelectExpr(child: Expression, k: Int, w: Int)
      extends Kernel.Unary("winnow_select", Str, ArrayType(LongType, containsNull = false)) {
    override protected def argError =
      argCheck(k >= 1 && w >= 1, s"requires k >= 1 and w >= 1, got ($k, $w)")
    protected def kernel = call(TextHashes, "winnowSelect", k, w)
    override protected def withNewChildInternal(c: Expression): WinnowSelectExpr = copy(child = c)
  }

  /** Hashed-bucket model score of a raw text value in ONE compiled
    * pass — the shared hot loop of the DSIR and perplexity gates (r16;
    * the attribution put the perplexity stage at ~0.31 ms/row, almost
    * all of it the interpreted per-token transform + map `element_at`
    * chain). order 1: bucket_i = (fold(tok_i)·mult) mod m per token
    * (the [[graft.operators.Dsir]] bucket); order 2: bucket_i =
    * (((fold_i·comb + fold_{i+1}) mod 2³¹)·mult) mod m per adjacent
    * token pair (the [[graft.operators.Perplexity]] bigram bucket) —
    * m = model.length. Returns Σ model(bucket_i) over a DENSE
    * sentinel-pre-filled model array (the caller fills every bucket
    * the reference corpus never occupied with the −1 smoothing entry,
    * so the in-loop lookup is one array read — exactly the
    * `coalesce(element_at(map, b), element_at(map, −1))` algebra).
    * Tokens split on every 0x20 (empty tokens kept, fold 0 — the
    * split/fold identity [[winnowSelect]] documents). Fewer than
    * `order` tokens → 0; callers guard on the separately-computed
    * token/pair count (the algebra's empty-score-NULL contract).
    */
  def bucketScoreSum(s: UTF8String, model: Array[Long], order: Int,
      mult: Long, comb: Long): Long = {
    val t = tokenBoundaries(s)
    if (t.count < order) return 0L
    val th = tokenFolds(t)
    val m = model.length.toLong
    var sum = 0L
    var i = 0
    while (i + order <= th.length) {
      val h = if (order == 1) th(i) else (th(i) * comb + th(i + 1)) % FoldM
      sum += model(((h * mult) % m).toInt)
      i += 1
    }
    sum
  }

  /** `bucket_score_sum(text)` → BIGINT (see [[bucketScoreSum]]); the
    * dense model array, order and constants are baked in at
    * construction.
    */
  case class BucketScoreSum(child: Expression, model: Array[Long],
      order: Int, mult: Long, comb: Long) extends Kernel.Unary("bucket_score_sum", Str, LongType) {
    override protected def argError =
      argCheck(model.nonEmpty && (order == 1 || order == 2) && mult >= 1,
        "requires a non-empty model, order in {1, 2}, mult >= 1")
    protected def kernel = call(TextHashes, "bucketScoreSum", model, order, mult, comb)
    override protected def withNewChildInternal(c: Expression): BucketScoreSum = copy(child = c)
  }

  /** The DISTINCT winnow fingerprints of a text (gram hashes, pos bits
    * stripped) as a plain long[] — [[winnowSelect]] >>> 32, deduped.
    * The native head shared by the fused census/Bloom hit counters
    * below; value-set equal to [[graft.operators.TextAnalytics]]'
    * `winnowFpArray` (which shifts and `array_distinct`s the same
    * selection column-side).
    */
  def winnowFps(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val sel = winnowSelect(s, k, w)
    val n = sel.numElements()
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) { fps(i) = sel.getLong(i) >>> 32; i += 1 }
    java.util.Arrays.sort(fps)
    var u = 0
    i = 0
    while (i < n) {
      if (u == 0 || fps(u - 1) != fps(i)) { fps(u) = fps(i); u += 1 }
      i += 1
    }
    if (u == n) fps else java.util.Arrays.copyOf(fps, u)
  }

  /** Fused winnow-census probe: how many of the text's distinct winnow
    * fingerprints occur in the ASCENDING-sorted frozen census — the
    * whole streaming winnow gate verdict
    * (`size(filter(winnowFpArray(text), sortedContains(census, ·)))`)
    * in ONE compiled pass with no array column, no interpreted
    * `filter` lambda, and no stream-static join (r17; the r16
    * admission attribution left the winnow stage as the composite's
    * largest marginal at ~0.08 ms/row, most of it the HOF probe loop).
    */
  def winnowCensusHits(s: UTF8String, k: Int, w: Int,
      census: Array[Long]): Int = {
    val fps = winnowFps(s, k, w)
    var hits = 0
    var i = 0
    while (i < fps.length) {
      if (java.util.Arrays.binarySearch(census, fps(i)) >= 0) hits += 1
      i += 1
    }
    hits
  }

  /** [[winnowCensusHits]]' Bloom twin: fingerprints probe a dense
    * Bloom bitset ([[BloomFunctions.bloomContainsWords]]) instead of
    * the sorted exact census — the fixed-size-state escape hatch for
    * frozen corpora whose fp census outgrows a broadcast.
    */
  def winnowBloomHits(s: UTF8String, k: Int, w: Int,
      words: Array[Long], numBits: Long, bloomK: Int): Int = {
    val fps = winnowFps(s, k, w)
    var hits = 0
    var i = 0
    while (i < fps.length) {
      if (BloomFunctions.bloomContainsWords(fps(i), words, numBits, bloomK))
        hits += 1
      i += 1
    }
    hits
  }

  /** `winnow_census_hits(text)` → INT (see [[winnowCensusHits]]); the
    * census rides an `sc.broadcast` handle (one executor copy however
    * many tasks probe it — see [[Kernel]]).
    */
  case class WinnowCensusHitsBroadcast(child: Expression, k: Int, w: Int,
      census: Broadcast[Array[Long]])
      extends Kernel.Unary("winnow_census_hits", Str, IntegerType) {
    override protected def argError =
      argCheck(k >= 1 && w >= 1, s"requires k >= 1 and w >= 1, got ($k, $w)")
    protected def kernel = call(TextHashes, "winnowCensusHits", k, w, census)
    override protected def withNewChildInternal(c: Expression): WinnowCensusHitsBroadcast =
      copy(child = c)
  }

  /** `winnow_bloom_hits(text)` → INT (see [[winnowBloomHits]]). */
  case class WinnowBloomHitsBroadcast(child: Expression, k: Int, w: Int,
      words: Broadcast[Array[Long]], numBits: Long, bloomK: Int)
      extends Kernel.Unary("winnow_bloom_hits", Str, IntegerType) {
    override protected def argError = argCheck(
      k >= 1 && w >= 1 && numBits >= 64 && bloomK >= 1 && bloomK <= 64,
      s"requires k,w >= 1, numBits >= 64, 1 <= bloomK <= 64, got ($k, $w, $numBits, $bloomK)")
    protected def kernel = call(TextHashes, "winnowBloomHits", k, w, words, numBits, bloomK)
    override protected def withNewChildInternal(c: Expression): WinnowBloomHitsBroadcast =
      copy(child = c)
  }

  /** Fused streaming span scrub — the whole
    * [[graft.streaming.StreamingFeatures.spanScrubGateStream]] rewrite
    * in ONE compiled pass (r17): window hashes are [[ngramHashes64]]'s
    * formula computed in place, each window probes the sorted census
    * ONCE (the column spelling re-probed every window up to n times —
    * once per covered token — via per-token `slice`+`exists`), a
    * prefix-sum turns "any hit in the covering window range" into two
    * array reads per token, and the kept tokens rebuild the text as a
    * single byte copy. Zero-hit documents (and sub-n documents, whose
    * window set is empty) return the INPUT value — `array_join` of all
    * tokens with " " reconstructs the original byte-for-byte because
    * every separator the split consumed was exactly one space.
    */
  def spanScrub(s: UTF8String, n: Int, census: Array[Long]): UTF8String = {
    val t = tokenBoundaries(s)
    val nTok = t.count
    val ng = nTok - n + 1
    if (ng <= 0 || census.length == 0) return s
    val pref = new Array[Int](ng + 1)
    var w = 0
    while (w < ng) {
      pref(w + 1) = pref(w) +
        (if (java.util.Arrays.binarySearch(census, t.xxhash(w, w + n)) >= 0) 1 else 0)
      w += 1
    }
    if (pref(ng) == 0) return s
    val bytes = new Array[Byte](s.numBytes)
    var outLen = 0
    var first = true
    var j = 0
    while (j < nTok) {
      val lo = math.max(j - n + 1, 0)
      val hi = math.min(j, ng - 1)
      val dropped = hi >= lo && pref(hi + 1) - pref(lo) > 0
      if (!dropped) {
        if (!first) { bytes(outLen) = 0x20; outLen += 1 }
        val s0 = t.start(j)
        val e = t.end(j)
        org.apache.spark.unsafe.Platform.copyMemory(s.getBaseObject, s.getBaseOffset + s0, bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + outLen, e - s0)
        outLen += e - s0
        first = false
      }
      j += 1
    }
    UTF8String.fromBytes(bytes, 0, outLen)
  }

  /** `span_scrub(text)` → STRING (see [[spanScrub]]); the sorted dup
    * census rides an `sc.broadcast` handle.
    */
  case class SpanScrubBroadcast(child: Expression, n: Int, census: Broadcast[Array[Long]])
      extends Kernel.Unary("span_scrub", Str, StringType) {
    override protected def argError = argCheck(n >= 1, s"requires n >= 1, got $n")
    protected def kernel = call(TextHashes, "spanScrub", n, census)
    override protected def withNewChildInternal(c: Expression): SpanScrubBroadcast =
      copy(child = c)
  }

  /** Fused n-gram census stats for the streaming coverage gate: the
    * doc's window-hit count against the sorted census and its window
    * count, PACKED as (hits << 32 | windows) — one compiled pass in
    * place of an array column + interpreted `filter`; the caller
    * unpacks and forms the portable-rounded ratio column-side.
    */
  def ngramCensusStats(s: UTF8String, n: Int, census: Array[Long]): Long = {
    val g = ngramHashes64(s, n)
    val ng = g.numElements()
    var hits = 0
    var i = 0
    while (i < ng) {
      if (java.util.Arrays.binarySearch(census, g.getLong(i)) >= 0) hits += 1
      i += 1
    }
    (hits.toLong << 32) | ng.toLong
  }

  /** `ngram_census_stats(text)` → BIGINT packed (hits << 32 | windows)
    * (see [[ngramCensusStats]]).
    */
  case class NgramCensusStatsBroadcast(child: Expression, n: Int,
      census: Broadcast[Array[Long]])
      extends Kernel.Unary("ngram_census_stats", Str, LongType) {
    override protected def argError = argCheck(n >= 1, s"requires n >= 1, got $n")
    protected def kernel = call(TextHashes, "ngramCensusStats", n, census)
    override protected def withNewChildInternal(c: Expression): NgramCensusStatsBroadcast =
      copy(child = c)
  }

  /** Fused quality-gate verdict — the
    * [[graft.operators.TextAnalytics]] `qualityOk` predicate
    * (`size(split) >= minTokens && portable-rounded stopword ratio >=
    * minRatio`) in ONE compiled pass: token count = spaces + 1 (split
    * on every 0x20, empties kept — the `tokens()` contract
    * [[bucketScoreSum]] already pins), stopword membership via a
    * prebuilt UTF8String hash set over zero-copy byte spans, and the
    * ratio rounding replicated operation-for-operation
    * (`floor(nStop/nTok · 10⁴ + 0.5) / 10⁴` — the PortableRound
    * formula, same IEEE ops in the same order). Returns 1/0 for
    * non-null text; null text is the caller's `coalesce(·, 0)` (the
    * fail-explicitly rule).
    */
  def qualityVerdict(s: UTF8String, minTokens: Int, minRatio: Double,
      stop: java.util.HashSet[UTF8String]): Int = {
    val t = tokenBoundaries(s)
    val nTok = t.count
    if (nTok < minTokens) return 0
    var nStop = 0
    var j = 0
    while (j < nTok) {
      if (t.end(j) > t.start(j) && stop.contains(t.span(j, j + 1))) nStop += 1
      j += 1
    }
    val ratio = math.floor(nStop.toDouble / nTok.toDouble * 10000.0 + 0.5) / 10000.0
    if (ratio >= minRatio) 1 else 0
  }

  /** `quality_verdict(text)` → INT 1/0 (see [[qualityVerdict]]); the
    * stopword set is baked in at construction (≤ dozens of entries —
    * a plain reference object, no broadcast needed).
    */
  case class QualityVerdict(child: Expression, minTokens: Int,
      minRatio: Double, stopwords: Seq[String])
      extends Kernel.Unary("quality_verdict", Str, IntegerType) {
    // "" is rejected alongside emptiness (r17 advice): the fused scan
    // skips zero-width tokens when counting stopword hits, while the
    // algebra spelling's array_contains would count every empty token
    // consecutive spaces produce — the divergence is unreachable for any
    // real stopword list, and this check keeps it that way explicitly
    override protected def argError =
      argCheck(minTokens >= 0 && stopwords.nonEmpty && !stopwords.contains(""),
        "requires minTokens >= 0 and a non-empty stopword list without \"\"")
    protected def kernel = call(TextHashes, "qualityVerdict", minTokens, minRatio, utf8Set(stopwords))
    override protected def withNewChildInternal(c: Expression): QualityVerdict = copy(child = c)
  }

  /** Distinct word-n-gram census + EXACT-set hit count of a raw text in
    * ONE compiled pass — the exact-benchmark twin of
    * [[graft.functions.BloomFunctions.shingleHits]], fused for the
    * streaming hygiene chain's decontam stage (r17 verdict ask #1: the
    * docs gate attribution measured that stage at ~0.97 ms/row, ~90% of
    * the composite — the interpreted `array_distinct(transform(...))`
    * shingle assembly plus a per-row `array_intersect`, the same HOF
    * class every prior fuse removed). Semantics are the algebra's, via
    * the byte-span identity the Bloom twin proved: each window IS a
    * byte span of the input (split on every 0x20, rejoin with single
    * spaces = identity on the original substring), distinctness is
    * byte equality exactly like `array_distinct`, and each distinct
    * span probes the benchmark set ONCE exactly like
    * `array_intersect(distinct_shingles, bench_set)`. Returns
    * total·2³² + hits packed in one BIGINT; fewer than n tokens → 0.
    */
  def shingleSetHits(s: UTF8String, n: Int, bench: java.util.HashSet[UTF8String]): Long =
    spanCensus(s, n, bench.contains)

  /** `shingle_set_hits(text)` → BIGINT total·2³² + hits (see
    * [[shingleSetHits]]); the benchmark shingles are baked in at
    * construction as a case-class Seq (value equality → semanticEquals
    * and CSE work), compiled once per expression instance into a
    * HashSet of UTF8Strings. Rides task serialization — the exact-set
    * gate's documented contract is a broadcast-sized benchmark (an
    * eval suite, tens of MB); a benchmark past that belongs in the
    * Bloom gate, whose bitset spends ~10 bits/gram.
    */
  case class ShingleSetHits(child: Expression, n: Int, shingles: Seq[String])
      extends Kernel.Unary("shingle_set_hits", Str, LongType) {
    override protected def argError = argCheck(n >= 1, s"requires n >= 1, got $n")
    protected def kernel = call(TextHashes, "shingleSetHits", n, utf8Set(shingles))
    override protected def withNewChildInternal(c: Expression): ShingleSetHits = copy(child = c)
  }

  private def utf8Set(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    set
  }

  /** Binary-search membership over an ASCENDING-sorted array<bigint>:
    * true iff `v` occurs in `sorted`. O(log s) per probe where
    * `array_contains` scans O(s) — for the streaming census gates that
    * probe every token window against a frozen digest set of s entries,
    * the difference between O(tokens · n · s) and O(tokens · n · log s)
    * per document. Caller contract: the array is sorted ascending and
    * null-free (the gates build it once per census with
    * `sort_array(collect_set(...))` — set semantics admit no nulls and
    * no duplicates); unsorted input gives unspecified results, the same
    * class of precondition a merge join places on its inputs.
    */
  def sortedContains(arr: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = arr.getLong(mid)
      if (x == v) return true
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** `sorted_contains(sortedArr, v)` → BOOLEAN (see [[sortedContains]]). */
  case class SortedLongContains(left: Expression, right: Expression)
      extends Kernel.Binary("sorted_contains", BigintArray, Bigint, BooleanType) {
    protected def kernel = call(TextHashes, "sortedContains")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongContains =
      copy(left = l, right = r)
  }

  /** Column-API entry points. */
  def portableFoldCol(c: Column, mult: Long = 31L): Column =
    column(PortableFold(expression(c), mult))
  def fingerprint62(c: Column): Column = column(PortableFingerprint(expression(c)))
  def simhash62(c: Column): Column = column(SimHashPortable(expression(c)))
  def bigramScoreCol(c: Column): Column = column(BigramScore(expression(c)))
  def minhashSigsCol(c: Column, k: Int): Column = column(MinHashSigs(expression(c), k))
  def ngramHashes64Col(c: Column, n: Int): Column = column(NgramHashes64(expression(c), n))
  def ngramRepStatsCol(c: Column, n: Int): Column = column(NgramRepStats(expression(c), n))
  def ngramRepStatsMultiCol(c: Column, ns: Seq[Int], pushable: Boolean = true): Column =
    column(NgramRepStatsMulti(expression(c), ns, pushable))
  def gopherStatsCol(c: Column, stopwords: Seq[String], pushable: Boolean = true): Column =
    column(GopherStats(expression(c), stopwords, pushable))
  def sortedContainsCol(sorted: Column, v: Column): Column =
    column(SortedLongContains(expression(sorted), expression(v)))
  def winnowSelectCol(text: Column, k: Int, w: Int): Column =
    column(WinnowSelectExpr(expression(text), k, w))
  def winnowCensusHitsCol(text: Column, k: Int, w: Int, census: Broadcast[Array[Long]]): Column =
    column(WinnowCensusHitsBroadcast(expression(text), k, w, census))
  def winnowBloomHitsCol(text: Column, k: Int, w: Int, words: Broadcast[Array[Long]],
      numBits: Long, bloomK: Int): Column =
    column(WinnowBloomHitsBroadcast(expression(text), k, w, words, numBits, bloomK))
  def shingleSetHitsCol(text: Column, n: Int, shingles: Seq[String]): Column =
    column(ShingleSetHits(expression(text), n, shingles))
  def qualityVerdictCol(text: Column, minTokens: Int, minRatio: Double,
      stopwords: Seq[String]): Column =
    column(QualityVerdict(expression(text), minTokens, minRatio, stopwords))
  def spanScrubCol(text: Column, n: Int, census: Broadcast[Array[Long]]): Column =
    column(SpanScrubBroadcast(expression(text), n, census))
  def ngramCensusStatsCol(text: Column, n: Int, census: Broadcast[Array[Long]]): Column =
    column(NgramCensusStatsBroadcast(expression(text), n, census))
  def bucketScoreSumCol(text: Column, model: Array[Long], order: Int,
      mult: Long, comb: Long = 0L): Column =
    column(BucketScoreSum(expression(text), model, order, mult, comb))

  // ------------------------------------------------ oracle interpolation

  /** The repo-wide portable char fold as DuckDB SQL over a string
    * expression — THE one spelling every oracle generator composes (a
    * change here moves all of them and [[portableFold]] in lockstep).
    * The `greatest(…, 0)` guard matches Spark on the EMPTY string (a
    * token produced by consecutive spaces): Spark `ascii('') = 0` vs
    * DuckDB `unicode('') = -1`, and DuckDB's `%` is sign-preserving, so
    * the raw form would fold −1 where Spark folds 0. Codepoints of real
    * chars are non-negative on both engines, so the guard is a no-op
    * everywhere else.
    */
  def duckFold(expr: String, mult: Long = 31L): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), " +
      s"c -> CAST(greatest(unicode(c), 0) % 256 AS BIGINT))), " +
      s"(a, b) -> (a * $mult + b) % 2147483648)"

  /** [[fingerprint62]] as DuckDB SQL over a string expression: the two
    * folds packed as h₁₃₁·2³¹ + h₃₁ (both < 2³¹, result < 2⁶² — int64).
    */
  def duckFingerprint62(expr: String): String =
    s"(${duckFold(expr, 131)} * 2147483648 + ${duckFold(expr, 31)})"

  /** The MinHash Carter-Wegman coefficient table as a DuckDB VALUES
    * body `(j, a, b)` with j 1-based — interpolated by the minhash
    * oracle generators so the SQL twin applies the exact per-function
    * coefficients [[minhashSigs]] uses.
    */
  def minhashCoeffValues(k: Int): String = {
    require(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")
    (0 until k).map(j => s"(${j + 1}, ${MinhashA(j)}, ${MinhashB(j)})")
      .mkString(", ")
  }

  /** The CW modulus, for oracle interpolation. */
  val MinhashModulus: Long = MinhashP
}
