package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{TextHashes, VectorFunctions}

/** SparkSessionExtensions entry point and the engine's one SQL function
  * registry: registers the native expressions as SQL functions at session
  * build (`--conf spark.sql.extensions=graft.GraftExtensions`). The
  * engine's own queries use the Column API and need no registration.
  *
  * ```
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT fingerprint62(text), quant_dot(a, b) FROM t")
  * ```
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Wrong-arity SQL calls must fail analysis with a clear message, not
    * surface an IndexOutOfBoundsException from exprs(i).
    */
  private def args(name: String, exprs: Seq[Expression], n: Int): Seq[Expression] = {
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }

  /** Case-class expressions that take a scalar tuning knob (k, nProbe)
    * model it as a constructor Int, not a child expression — SQL callers
    * must therefore pass a literal.
    */
  private def litInt(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) if v.isValidInt => v.toInt
    case Literal(v: Long, LongType) => throw new IllegalArgumentException(
      s"$name: literal parameter $v out of Int range")
    case other => throw new IllegalArgumentException(
      s"$name: parameter must be a literal integer, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("fingerprint62"),
      info("fingerprint62", "fingerprint62(str) - 62-bit portable two-fold fingerprint"),
      (exprs: Seq[Expression]) => TextHashes.PortableFingerprint(args("fingerprint62", exprs, 1).head)))
    e.injectFunction((FunctionIdentifier("simhash62"),
      info("simhash62", "simhash62(array<string>) - portable Charikar SimHash of a token array"),
      (exprs: Seq[Expression]) => TextHashes.SimHashPortable(args("simhash62", exprs, 1).head)))
    e.injectFunction((FunctionIdentifier("portable_fold"),
      info("portable_fold", "portable_fold(str, mult) - (h*mult + cp%256) mod 2^31 char fold"),
      (exprs: Seq[Expression]) => { args("portable_fold", exprs, 2)
        TextHashes.PortableFold(exprs.head,
          litInt("portable_fold", exprs(1)).toLong) }))
    e.injectFunction((FunctionIdentifier("quant_dot"),
      info("quant_dot", "quant_dot(a, b) - exact integer-quantized dot product"),
      (exprs: Seq[Expression]) => { args("quant_dot", exprs, 2)
        VectorFunctions.QuantizedDot(exprs(0), exprs(1)) }))
    e.injectFunction((FunctionIdentifier("lsh_bits"),
      info("lsh_bits", "lsh_bits(v) - 8-bit sign-hyperplane LSH bucket key"),
      (exprs: Seq[Expression]) => VectorFunctions.CosineLshKey(args("lsh_bits", exprs, 1).head, 8)))
    e.injectFunction((FunctionIdentifier("quantize_vec"),
      info("quantize_vec", "quantize_vec(v) - round(x*1e6) per element as array<bigint>"),
      (exprs: Seq[Expression]) => VectorFunctions.QuantizeVec(args("quantize_vec", exprs, 1).head)))
    e.injectFunction((FunctionIdentifier("long_dot"),
      info("long_dot", "long_dot(a, b) - integer dot product of pre-quantized vectors"),
      (exprs: Seq[Expression]) => { args("long_dot", exprs, 2)
        VectorFunctions.LongDot(exprs(0), exprs(1)) }))
    e.injectFunction((FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs",
        "minhash_sigs(array<bigint>, k) - k Carter-Wegman MinHash minima in one pass"),
      (exprs: Seq[Expression]) => { args("minhash_sigs", exprs, 2)
        TextHashes.MinHashSigs(exprs.head, litInt("minhash_sigs", exprs(1))) }))
    e.injectFunction((FunctionIdentifier("bigram_score"),
      info("bigram_score",
        "bigram_score(str) - summed bigram hash for n-gram language ID"),
      (exprs: Seq[Expression]) => TextHashes.BigramScore(args("bigram_score", exprs, 1).head)))
    e.injectFunction((FunctionIdentifier("nearest_cells"),
      info("nearest_cells",
        "nearest_cells(qe, cents, k) - top-k IVF cell ids by quantized dot " +
          "against a broadcast codebook array"),
      (exprs: Seq[Expression]) => { args("nearest_cells", exprs, 3)
        VectorFunctions.NearestCells(exprs(0), exprs(1),
          litInt("nearest_cells", exprs(2))) }))
    e.injectFunction((FunctionIdentifier("misra_gries"),
      info("misra_gries",
        "misra_gries(token, m) - bounded-memory heavy-hitter sketch aggregate: " +
          "<= m (token, lower_bound) counters, never missing a count > N/(m+1) item"),
      (exprs: Seq[Expression]) => { args("misra_gries", exprs, 2)
        graft.functions.SketchAggregates.MisraGriesAgg(exprs.head,
          litInt("misra_gries", exprs(1))).toAggregateExpression() }))
  }
}
