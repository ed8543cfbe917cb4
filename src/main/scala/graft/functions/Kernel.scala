package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType}

/** The scaffold every native expression in `graft.functions` is declared
  * on. An expression states its name, the input types it accepts, its
  * result type, an optional argument error, and its kernel: one method
  * of a functions object plus the constructor arguments passed after the
  * row's input values. From that one declaration the scaffold derives
  * the analyzer check, the interpreted `eval` (a reflective call of the
  * method) and the generated Java (a direct call of the same method with
  * the same arguments), so the two paths cannot run different code —
  * NativeLockstepSpec holds them to the same outputs row for row.
  *
  * Kernel arguments by runtime type:
  *   - `Int`, `Long`, `Double` constants become Java literals;
  *   - a `Broadcast[Array[Long]]` (frozen gate state: censuses, Bloom
  *     bitsets) is resolved once per generated-code instance into a
  *     `long[]` member, and once per expression instance in `eval` — one
  *     executor copy however many tasks probe it;
  *   - any other object (stopword sets, dense models, merge tables) is a
  *     reference object of the generated class, passed as its exact
  *     runtime class.
  * The method is looked up by the Java classes of the children's data
  * types and of the arguments, the static types javac resolves the
  * generated call with, so an overload (`fingerprint62(UTF8String)` vs
  * `fingerprint62(Column)`) resolves the same way on both paths.
  */
object Kernel {

  /** An input type a kernel accepts, named for analyzer messages. (A
    * method, not a function value: a serialized lambda costs every task
    * a LambdaMetafactory round trip when the plan is deserialized.)
    */
  abstract class In(val name: String) extends Serializable {
    def accepts(t: DataType): Boolean
  }
  private class Exactly(t: DataType) extends In(t.catalogString) {
    def accepts(d: DataType): Boolean = d == t
  }
  private class ArrayOf(elem: DataType) extends In(s"array<${elem.catalogString}>") {
    def accepts(d: DataType): Boolean = d match {
      case ArrayType(e, _) => e == elem
      case _ => false
    }
  }
  val Str: In = new Exactly(StringType)
  val Bigint: In = new Exactly(LongType)
  val BigintArray: In = new ArrayOf(LongType)
  val StrArray: In = new ArrayOf(StringType)
  val FloatArray: In = new ArrayOf(FloatType)

  /** An expression's argument check: `Some(message)` unless `ok`. */
  def argCheck(ok: Boolean, message: => String): Option[String] =
    if (ok) None else Some(message)

  /** A kernel: `method` of the functions object `owner`, called with the
    * row's input values followed by `args`.
    */
  final class Call(val owner: AnyRef, val method: String, val args: Seq[Any])
  def call(owner: AnyRef, method: String, args: Any*): Call = new Call(owner, method, args)

  private def argClass(a: Any): Class[_] = a match {
    case _: Int => java.lang.Integer.TYPE
    case _: Long => java.lang.Long.TYPE
    case _: Double => java.lang.Double.TYPE
    case _: Broadcast[_] => classOf[Array[Long]]
    case o: AnyRef => o.getClass
  }

  private def javaName(c: Class[_]): String =
    if (c.isArray) javaName(c.getComponentType) + "[]" else c.getName

  /** What [[Unary]] and [[Binary]] share: the check, `eval` and codegen. */
  sealed trait Native extends Expression {
    protected def kernelName: String
    protected def accepts: Seq[In]
    protected def argError: Option[String] = None
    protected def kernel: Call
    /** True when the kernel itself may return null for non-null inputs. */
    protected def kernelNullable: Boolean = false

    override def nullable: Boolean = kernelNullable || children.exists(_.nullable)

    override def checkInputDataTypes(): TypeCheckResult = argError match {
      case Some(msg) => TypeCheckFailure(s"$kernelName: $msg")
      case None if children.zip(accepts).forall { case (c, in) => in.accepts(c.dataType) } =>
        TypeCheckSuccess
      case None =>
        def list(xs: Seq[String]) = if (xs.size == 1) xs.head else xs.mkString("(", ", ", ")")
        TypeCheckFailure(s"$kernelName requires ${list(accepts.map(_.name))} input, " +
          s"got ${list(children.map(_.dataType.catalogString))}")
    }

    @transient private lazy val bound: Call = kernel
    @transient private lazy val method: Method = bound.owner.getClass.getMethod(bound.method,
      children.map(c => CodeGenerator.javaClass(c.dataType)) ++ bound.args.map(argClass): _*)
    @transient private lazy val argValues: Array[AnyRef] = bound.args.map {
      case b: Broadcast[_] => b.value.asInstanceOf[AnyRef]
      case a => a.asInstanceOf[AnyRef]
    }.toArray

    protected def invoke(inputs: AnyRef*): Any = {
      val all = new Array[AnyRef](inputs.length + argValues.length)
      inputs.copyToArray(all)
      System.arraycopy(argValues, 0, all, inputs.length, argValues.length)
      try method.invoke(bound.owner, all: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }

    protected def genCall(ctx: CodegenContext, ev: ExprCode, inputs: Seq[String]): String = {
      val args = bound.args.map {
        case i: Int => i.toString
        case l: Long => s"${l}L"
        case d: Double =>
          s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(d)}L)"
        case b: Broadcast[_] =>
          val handle = ctx.addReferenceObj("graftBroadcast", b, classOf[Broadcast[_]].getName)
          ctx.addMutableState("long[]", "graftBroadcastValue",
            v => s"$v = (long[]) $handle.value();")
        case o: AnyRef => ctx.addReferenceObj("graftKernelArg", o, javaName(o.getClass))
      }
      val call = s"${ev.value} = ${bound.owner.getClass.getName}.MODULE$$." +
        s"${bound.method}(${(inputs ++ args).mkString(", ")});"
      if (nullable && !CodeGenerator.isPrimitiveType(dataType))
        s"$call\n${ev.isNull} = ${ev.value} == null;"
      else call
    }
  }

  /** A one-input native expression. (Serializable itself, so Java
    * serialization of the case class restores its constructor fields.)
    */
  abstract class Unary(name: String, input: In, resultType: DataType)
      extends UnaryExpression with Native with Serializable {
    override def dataType: DataType = resultType
    override protected def kernelName: String = name
    override protected def accepts: Seq[In] = Seq(input)
    override protected def nullSafeEval(v: Any): Any = invoke(v.asInstanceOf[AnyRef])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => genCall(ctx, ev, Seq(c)))
  }

  /** A two-input native expression. */
  abstract class Binary(name: String, leftIn: In, rightIn: In, resultType: DataType)
      extends BinaryExpression with Native with Serializable {
    override def dataType: DataType = resultType
    override protected def kernelName: String = name
    override protected def accepts: Seq[In] = Seq(leftIn, rightIn)
    override protected def nullSafeEval(a: Any, b: Any): Any =
      invoke(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => genCall(ctx, ev, Seq(a, b)))
  }

  /** The optimizer-only non-determinism device shared by the census
    * expressions (`GopherStats`, `NgramRepStatsMulti`). Evaluation is
    * pure; `pushable = false` only reports the node non-deterministic,
    * which stops filter pushdown from inlining one copy of the census per
    * field reference into a Filter condition, where no subexpression
    * elimination runs (the streaming gates' filter-on-verdict shape paid
    * a dozen census evaluations per row that way). CheckAnalysis admits
    * non-deterministic expressions only in Project, Filter, Aggregate and
    * Window, so an unpushable column must be placed there, e.g. in a
    * `withColumn` ahead of the filter. Batch spellings keep the default
    * `true`, so their filters still push to the scan.
    */
  trait Pushable extends Expression {
    def pushable: Boolean
    override lazy val deterministic: Boolean = pushable && children.forall(_.deterministic)
  }
}
