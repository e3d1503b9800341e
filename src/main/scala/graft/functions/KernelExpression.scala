package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A kernel: the method `method` on the Scala object `owner`, called
  * with the expression's input values followed by the literal `args`. */
final case class Kernel(owner: AnyRef, method: String, args: Int*)

/** The body of a native function whose whole evaluation is ONE call to
  * a kernel method on a Scala object. The function names its kernel
  * once ([[kernel]]) and both evaluation paths derive from it, so the
  * interpreted and generated paths cannot call different methods:
  *
  *  - type check: the inputs must match the kernel's parameter types
  *    (`byte[]` binary, `long` bigint, `UTF8String` string); a kernel
  *    over another type overrides [[inputTypes]]. The failure reads
  *    `"<name> requires <type>, got <type>"`;
  *  - interpreted eval invokes the kernel reflectively, resolved once
  *    per expression instance (not per row);
  *  - generated code is the static call
  *    `<Owner>$.MODULE$.<method>(inputs…, args…)`;
  *  - the kernel returns the Java type of `dataType`, or a `String`,
  *    which becomes a `UTF8String`; a null reference result of a
  *    nullable function reads as SQL NULL.
  *
  * A function whose body is more than the call (a per-row guard, a
  * reference object, a boxed primitive result, two kernels) writes its
  * own `doGenCode` on a plain `UnaryExpression` instead. */
sealed trait KernelCall extends Expression {

  /** The kernel this function calls, on both evaluation paths. */
  def kernel: Kernel

  @transient private lazy val bound: Kernel = kernel

  @transient private lazy val method: Method = {
    val arity = children.size + bound.args.size
    bound.owner.getClass.getMethods.filter { m =>
      m.getName == bound.method && m.getParameterCount == arity && !m.isBridge
    } match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"$prettyName: expected one ${bound.owner.getClass.getName}" +
          s".${bound.method} taking $arity arguments, found ${ms.length}")
    }
  }

  @transient private lazy val boxedArgs: Seq[AnyRef] = bound.args.map(Int.box)

  private def returnsString: Boolean = method.getReturnType == classOf[String]

  /** The input types this function accepts, one per child. */
  def inputTypes: Seq[DataType] =
    method.getParameterTypes.toSeq.take(children.size).map {
      case c if c == classOf[Array[Byte]] => BinaryType
      case c if c == java.lang.Long.TYPE => LongType
      case c if c == classOf[UTF8String] => StringType
      case c => throw new IllegalStateException(
        s"$prettyName: no SQL type for kernel parameter ${c.getName}")
    }

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val ok = inputTypes.zip(got).forall {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case (w, g) => w == g
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else {
      def show(ts: Seq[DataType]) = ts.map(_.simpleString).mkString(", ")
      val want =
        if (got.size == 1) show(inputTypes) else s"(${show(inputTypes)})"
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires $want, got ${show(got)}")
    }
  }

  protected def call(inputs: Any*): Any = {
    val args = inputs.map(_.asInstanceOf[AnyRef]) ++ boxedArgs
    val out =
      try method.invoke(bound.owner, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (returnsString) UTF8String.fromString(out.asInstanceOf[String]) else out
  }

  protected def callCode(ev: ExprCode, inputs: String*): String = {
    val target = s"${bound.owner.getClass.getName}.MODULE$$.${bound.method}(" +
      (inputs ++ bound.args.map(_.toString)).mkString(", ") + ")"
    val value =
      if (returnsString)
        s"org.apache.spark.unsafe.types.UTF8String.fromString($target)"
      else target
    val nullCheck =
      if (nullable && !CodeGenerator.isPrimitiveType(dataType))
        s"\n${ev.isNull} = ${ev.value} == null;"
      else ""
    s"${ev.value} = $value;$nullCheck"
  }
}

/** A one-input [[KernelCall]]: a subclass declares its signature,
  * `dataType`, `prettyName`, `kernel` and `withNewChildInternal`. */
abstract class KernelExpression extends UnaryExpression with KernelCall {

  override def nullSafeEval(input: Any): Any = call(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => callCode(ev, c))
}

/** The two-input twin of [[KernelExpression]]. */
abstract class BinaryKernelExpression extends BinaryExpression with KernelCall {

  override def nullSafeEval(left: Any, right: Any): Any = call(left, right)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => callCode(ev, l, r))
}
