package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE re-segmentation counter — the production form of the
  * streaming token-budget gate's chained-fold algebra
  * ([[graft.streaming.StreamingFeatures.bpeBudgetGateStreamFold]],
  * retained as the spec-pinned reference spelling). The fold form's
  * cost is one interpreted Catalyst `aggregate` per merge per token
  * (N folds allocating per step — measured 0.84 ms/row of the r16
  * admission composite's ~1.07 total, and its expression TREE grows
  * with N, the documented ~10² ceiling). This form compiles the frozen
  * merge table into ONE codegen'd expression whose per-row work is a
  * static JVM loop, and realizes the documented word → subword-count
  * broadcast map as a bounded per-task memo: natural text repeats
  * types heavily, so after warmup most tokens are a single hash probe
  * — the batch type join's streaming analogue, built lazily from the
  * stream itself so it can never go stale against the incoming
  * distribution (the staleness risk a precomputed type-frame broadcast
  * carries).
  *
  * Semantics are EXACTLY the fold gate's (equality spec-pinned in
  * StreamingSpec, including multi-space / unicode / trailing-space
  * fixtures, and per-doc lockstep with the batch
  * [[graft.operators.Bpe.bpeTokenCounts]] type join at a 128-merge
  * table):
  *   - tokens = maximal runs of non-space chars (what
  *     `filter(split(text, " "), t => t =!= "")` keeps);
  *   - per token, symbols start as `split(t, "")`'s output: one symbol
  *     per Unicode CODE POINT, no trailing empty (MEASURED against the
  *     fold form — Spark's empty-regex split keeps surrogate pairs
  *     whole and emits no trailing "", unlike a raw Java
  *     `Pattern.split(s, -1)`, which cuts code units and keeps the
  *     trailing empty; the unicode fixture pins it);
  *   - each merge (a, b) applies greedy-leftmost-non-overlapping in
  *     table order (the [[graft.operators.Bpe.applyMerge]] fold rule —
  *     a symbol produced by a merge is not re-eligible as the LEFT
  *     partner within the same pass), with the fold form's
  *     `t.contains(a + b)` skip (sound: live symbols are contiguous
  *     substrings of the token, so an absent concatenation can never
  *     have an adjacent (a, b) pair);
  *   - the count is the surviving symbol count (`size(segmented)`'s
  *     convention).
  */
object BpeSegment {

  /** Per-task memo ceiling: a 2¹⁶-entry word → count map bounds memo
    * memory at a few MB however adversarial the stream's type churn —
    * past it, new types pay the simulate loop but are not cached.
    */
  private val MemoCap = 1 << 16

  /** The merge table compiled to parallel arrays + the lazy memo. One
    * instance rides the serialized plan (a kernel argument, see
    * [[Kernel]]); each task
    * deserializes its own copy, so the memo is per-task warm state —
    * ConcurrentHashMap only for safety if an execution mode shares it.
    */
  final class Counter(merges: Seq[(String, String)]) extends Serializable {
    private val mergeA: Array[String] = merges.map(_._1).toArray
    private val mergeB: Array[String] = merges.map(_._2).toArray
    private val mergedAB: Array[String] = merges.map(p => p._1 + p._2).toArray
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()

    // value equality over the merge table (memo excluded — it is warm
    // state, not identity): Counter rides [[BpeTokenCount]] as a
    // constructor arg, so without this two bpeTokenCountCol calls with
    // identical tables were never semanticEquals and a gate column
    // referenced twice defeated common-subexpression elimination and
    // plan-cache reuse (r17 advice)
    override def equals(other: Any): Boolean = other match {
      case c: Counter =>
        java.util.Arrays.equals(mergeA.asInstanceOf[Array[AnyRef]],
          c.mergeA.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(mergeB.asInstanceOf[Array[AnyRef]],
          c.mergeB.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode: Int =
      31 * java.util.Arrays.hashCode(mergeA.asInstanceOf[Array[AnyRef]]) +
        java.util.Arrays.hashCode(mergeB.asInstanceOf[Array[AnyRef]])

    /** Sum of per-token subword counts over the doc's space-split
      * tokens — `n_bpe_tokens` of a non-null text.
      */
    def countDoc(s: UTF8String): Long = {
      val str = s.toString
      val len = str.length
      var sum = 0L
      var start = 0
      var i = 0
      while (i <= len) {
        if (i == len || str.charAt(i) == ' ') {
          if (i > start) sum += countToken(str.substring(start, i))
          start = i + 1
        }
        i += 1
      }
      sum
    }

    private def countToken(tok: String): Int = {
      val hit = memo.get(tok)
      if (hit != null) return hit.intValue()
      val n = simulate(tok)
      if (memo.size < MemoCap) memo.put(tok, Integer.valueOf(n))
      n
    }

    /** Spans (start, end) into `tok` stand in for the symbol strings —
      * symbols are always contiguous substrings, so each merge pass is
      * pointer arithmetic + regionMatches, zero allocation beyond two
      * reused int arrays. Initial spans are CODE POINTS (surrogate
      * pairs stay whole — the measured `split(t, "")` contract).
      */
    private def simulate(tok: String): Int = {
      val len = tok.length
      var m = 0
      var starts = new Array[Int](len)
      var ends = new Array[Int](len)
      var i = 0
      while (i < len) {
        val step = Character.charCount(tok.codePointAt(i))
        starts(m) = i; ends(m) = i + step
        m += 1; i += step
      }
      var outS = new Array[Int](m)
      var outE = new Array[Int](m)
      var r = 0
      while (r < mergeA.length) {
        if (m >= 2 && tok.contains(mergedAB(r))) {
          val a = mergeA(r); val b = mergeB(r)
          val aLen = a.length; val bLen = b.length
          var w = 0
          i = 0
          while (i < m) {
            if (i + 1 < m &&
                ends(i) - starts(i) == aLen &&
                ends(i + 1) - starts(i + 1) == bLen &&
                tok.regionMatches(starts(i), a, 0, aLen) &&
                tok.regionMatches(starts(i + 1), b, 0, bLen)) {
              outS(w) = starts(i); outE(w) = ends(i + 1)
              w += 1; i += 2
            } else {
              outS(w) = starts(i); outE(w) = ends(i)
              w += 1; i += 1
            }
          }
          // swap buffers — the pass output is the next pass's input
          val ts = starts; starts = outS; outS = ts
          val te = ends; ends = outE; outE = te
          m = w
        }
        r += 1
      }
      m
    }
  }

  /** `bpe_token_count(text)` → BIGINT: the doc's token count under the
    * frozen merge table (NULL text → NULL; the gate supplies the
    * content-neutral 0-and-pass rule around it).
    */
  case class BpeTokenCount(child: Expression, counter: Counter)
      extends Kernel.Unary("bpe_token_count", Kernel.Str, LongType) {
    protected def kernel = Kernel.call(BpeSegment, "tokenCount", counter)
    override protected def withNewChildInternal(c: Expression): BpeTokenCount = copy(child = c)
  }

  /** [[BpeTokenCount]]'s kernel: the counter's [[Counter.countDoc]]. */
  def tokenCount(s: UTF8String, counter: Counter): Long = counter.countDoc(s)

  def bpeTokenCountCol(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokenCount(expression(text), new Counter(merges)))
}
