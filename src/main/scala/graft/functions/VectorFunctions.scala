package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.Kernel.{argCheck, call, BigintArray, FloatArray}

/** Native Catalyst expressions for embedding math (similarity-search
  * extensions). Column-algebra formulations (zip_with + aggregate over
  * 64-wide literal arrays) generate pathological whole-stage code — these
  * expressions compile to one static-helper call per row with tight
  * primitive loops instead (measured ~10x on the ANN queries at sf0.1).
  */
object VectorFunctions {

  /** Half-away-from-zero rounding — matches Spark's `round()` (HALF_UP)
    * and DuckDB's `round()`, so results stay oracle-comparable.
    */
  @inline private def q6(x: Double): Long =
    if (x >= 0) math.floor(x * 1e6 + 0.5).toLong else -math.floor(-x * 1e6 + 0.5).toLong

  /** Exact integer-quantized dot product of two float vectors:
    * Σ round(a_i·10⁶)·round(b_i·10⁶). Order-independent, engine-portable.
    */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += q6(a.getFloat(i).toDouble) * q6(b.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  /** Element-wise quantization of a float vector: round(x_i·10⁶) longs.
    * Computed ONCE per row so joins don't re-round per candidate pair.
    */
  def quantizeVec(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = q6(v.getFloat(i).toDouble); i += 1 }
    new GenericArrayData(out)
  }

  /** Integer dot product of two pre-quantized vectors — the hot loop of
    * every ANN/near-dup join: pure long multiply-add, no rounding.
    */
  def dotL(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** Deterministic pseudo-random hyperplane coefficient NUMERATORS
    * (xorshift64): integers in (−999, 999], the plane coefficient
    * being num/1000. Kept as integers since round 13 so the sign dot is
    * exact int64 math a DuckDB oracle replays — the float spelling of
    * the same table was the one engine-local step in the LSH family.
    */
  def planeNum(p: Int, j: Int): Long = {
    var x = (p * 1000003L + j * 2654435761L + 123456789L) | 1L
    x ^= x << 13; x ^= x >>> 7; x ^= x << 17
    x % 1000L
  }

  private val MaxBits = 16
  private val MaxDim = 512
  // Static plane-numerator table shared by eval + codegen paths.
  lazy val planes: Array[Array[Long]] =
    Array.tabulate(MaxBits, MaxDim)(planeNum)

  /** Sign-bit LSH key over `nBits` hyperplanes (Charikar 2002 random
    * projection): bit p set iff plane_(offset+p) · v ≥ 0. `offset`
    * selects an INDEPENDENT stretch of the static plane table — two
    * disjoint offsets give two independent hash tables, the classic
    * multi-table recall remedy (a near-dup pair straddling a plane of
    * one table collides in the other with the same per-table odds, so
    * OR-ing verdicts squares the miss rate: 1 − (1 − r)² for per-table
    * recall r). Bit p of the key comes from plane offset+p regardless
    * of nBits, so keys NEST along nBits at fixed offset (the annTuning
    * mask-nesting contract) — but keys at different offsets share no
    * planes and must never be compared.
    *
    * Integer-exact (round 13): the projection is Σ num_pj · q6(v_j) —
    * the q6-quantized components against the integer numerators, a
    * pure int64 sum (|num| < 1000, |q6| ≤ ~10⁶·|x|, dim ≤ 512 → far
    * inside int64), so the key is a pure function of the quantized
    * vector in ANY engine. Same sign as the rational-coefficient dot
    * over the quantized vector exactly; differs from the old float
    * form only where a sub-micro component decided the sign.
    */
  def lshBits(v: ArrayData, nBits: Int, offset: Int): Long = {
    val n = math.min(v.numElements(), MaxDim)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = q6(v.getFloat(i).toDouble); i += 1 }
    var key = 0L
    var p = 0
    while (p < nBits) {
      val plane = planes(offset + p)
      var dot = 0L
      i = 0
      while (i < n) { dot += q(i) * plane(i); i += 1 }
      if (dot >= 0) key |= (1L << p)
      p += 1
    }
    key
  }

  def lshBits(v: ArrayData, nBits: Int): Long = lshBits(v, nBits, 0)

  /** Top-`k` nearest centroids of a pre-quantized vector, scanning a
    * centroid array of `struct(cell:int, qc:array<bigint>)` rows once:
    * returns cell ids ordered by (dot desc, cell asc) — the same total
    * order the former `row_number` window used, so results are identical.
    * This is the IVF assignment/probe hot loop: the centroid table rides
    * along as a 1-row broadcast column, so assignment is pure map-side
    * compute — the corpus never shuffles (the old crossJoin+window plan
    * exchanged n·nCells exploded rows per Lloyd iteration).
    */
  def nearestCells(v: ArrayData, cents: ArrayData, k: Int): ArrayData = {
    val n = cents.numElements()
    val kk = if (k < n) k else n
    val topDot = new Array[Long](kk)
    val topCell = new Array[Int](kk)
    var filled = 0
    var i = 0
    while (i < n) {
      val s = cents.getStruct(i, 2)
      val cell = s.getInt(0)
      val d = dotL(v, s.getArray(1))
      val beatsLast = filled < kk || d > topDot(filled - 1) ||
        (d == topDot(filled - 1) && cell < topCell(filled - 1))
      if (beatsLast) {
        // insertion into the sorted top-k prefix (kk is small: 1..nProbe)
        var pos = if (filled < kk) filled else kk - 1
        while (pos > 0 && (topDot(pos - 1) < d ||
            (topDot(pos - 1) == d && topCell(pos - 1) > cell))) {
          topDot(pos) = topDot(pos - 1); topCell(pos) = topCell(pos - 1)
          pos -= 1
        }
        topDot(pos) = d; topCell(pos) = cell
        if (filled < kk) filled += 1
      }
      i += 1
    }
    val out = new Array[Int](filled)
    System.arraycopy(topCell, 0, out, 0, filled)
    new GenericArrayData(out)
  }

  /** `quant_dot(a, b)` → BIGINT. */
  case class QuantizedDot(left: Expression, right: Expression)
      extends Kernel.Binary("quant_dot", FloatArray, FloatArray, LongType) {
    protected def kernel = call(VectorFunctions, "dotQ")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedDot =
      copy(left = l, right = r)
  }

  /** `quantize_vec(v)` → ARRAY<BIGINT>: round(x·10⁶) per element. */
  case class QuantizeVec(child: Expression)
      extends Kernel.Unary("quantize_vec", FloatArray, ArrayType(LongType, containsNull = false)) {
    protected def kernel = call(VectorFunctions, "quantizeVec")
    override protected def withNewChildInternal(c: Expression): QuantizeVec = copy(child = c)
  }

  /** `long_dot(a, b)` → BIGINT over pre-quantized vectors. */
  case class LongDot(left: Expression, right: Expression)
      extends Kernel.Binary("long_dot", BigintArray, BigintArray, LongType) {
    protected def kernel = call(VectorFunctions, "dotL")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDot =
      copy(left = l, right = r)
  }

  /** `lsh_bits(v)` → BIGINT sign-bit bucket key. Vectors longer than
    * `MaxDim` project onto the leading MaxDim coordinates (documented
    * truncation; extend the static table for wider embeddings).
    */
  case class CosineLshKey(child: Expression, nBits: Int, offset: Int = 0)
      extends Kernel.Unary("lsh_bits", FloatArray, LongType) {
    override protected def argError =
      argCheck(nBits >= 1 && offset >= 0 && offset + nBits <= MaxBits,
        s"need nBits >= 1, offset >= 0, offset + nBits <= $MaxBits, got ($nBits, $offset)")
    protected def kernel = call(VectorFunctions, "lshBits", nBits, offset)
    override protected def withNewChildInternal(c: Expression): CosineLshKey = copy(child = c)
  }

  /** `nearest_cells(qe, cents, k)` → ARRAY<INT>: top-k cell ids by
    * quantized dot against a centroid array column (see [[nearestCells]]).
    * Codegen'd single-helper-call like the other vector expressions.
    */
  case class NearestCells(left: Expression, right: Expression, k: Int)
      extends Kernel.Binary("nearest_cells", BigintArray, Centroids,
        ArrayType(IntegerType, containsNull = false)) {
    override protected def argError = argCheck(k >= 1, "k must be >= 1")
    protected def kernel = call(VectorFunctions, "nearestCells", k)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCells =
      copy(left = l, right = r)
  }

  private val Centroids = new Kernel.In("array<struct<int, array<bigint>>>") {
    def accepts(t: DataType): Boolean = t match {
      case ArrayType(StructType(Array(cell, StructField(_, ArrayType(LongType, _), _, _))), _) =>
        cell.dataType == IntegerType
      case _ => false
    }
  }

  def quantDot(a: Column, b: Column): Column =
    column(QuantizedDot(expression(a), expression(b)))
  def lshKeyCol(v: Column, nBits: Int): Column = column(CosineLshKey(expression(v), nBits))
  def lshKeyCol(v: Column, nBits: Int, offset: Int): Column =
    column(CosineLshKey(expression(v), nBits, offset))
  def quantizeCol(v: Column): Column = column(QuantizeVec(expression(v)))
  def longDot(a: Column, b: Column): Column = column(LongDot(expression(a), expression(b)))
  def nearestCellsCol(v: Column, cents: Column, k: Int): Column =
    column(NearestCells(expression(v), expression(cents), k))
}
