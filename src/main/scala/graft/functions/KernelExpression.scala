package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import scala.util.Try

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A kernel: the method `method` on `owner` — a Scala object or a model
  * instance — called with the expression's input values followed by
  * the literal `args`. */
final case class Kernel(owner: AnyRef, method: String, args: Int*)

/** The body of a native function whose whole evaluation is ONE call to
  * a kernel method. The function names its kernel once ([[kernel]]) and
  * both evaluation paths derive from it, so the interpreted and
  * generated paths cannot call different methods:
  *
  *  - type check: the inputs must match the kernel's parameter types
  *    (`byte[]` binary, `long` bigint, `int` int, `UTF8String` string);
  *    a kernel over `ArrayData`, or over more than one input type,
  *    overrides [[inputTypes]] (a vector kernel accepts
  *    [[KernelCall.Vector]] and takes [[KernelCall.floatElems]] as a
  *    literal argument). The failure reads
  *    `"<name> requires <type>, got <type>"`;
  *  - interpreted eval invokes the kernel reflectively, resolved once
  *    per expression instance (not per row);
  *  - generated code calls the kernel directly: a Scala object as
  *    `<Owner>$.MODULE$.<method>(inputs…, args…)`, a model instance
  *    through `ctx.addReferenceObj` (so its class must be a public
  *    top-level `Serializable` class);
  *  - the kernel returns the Java type of `dataType`, or a `String`,
  *    which becomes a `UTF8String`; a null reference result of a
  *    nullable function reads as SQL NULL. A nullable function of a
  *    primitive type may return the boxed type, null for SQL NULL.
  *
  * A function whose body is more than the call (the scan kernels'
  * inline per-row loops, `contains_any`'s automaton built from its
  * literal child) writes its own `doGenCode` instead. */
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

  // a Scala object is called statically; any other owner is an instance
  @transient private lazy val ownerIsObject: Boolean =
    Try(bound.owner.getClass.getField("MODULE$").get(null) eq bound.owner)
      .getOrElse(false)

  private def returnsString: Boolean = method.getReturnType == classOf[String]

  private def returnsBoxed: Boolean =
    CodeGenerator.isPrimitiveType(dataType) && !method.getReturnType.isPrimitive

  /** The input types this function accepts: per child, its alternatives. */
  def inputTypes: Seq[Seq[DataType]] =
    method.getParameterTypes.toSeq.take(children.size).map {
      case c if c == classOf[Array[Byte]] => Seq(BinaryType)
      case c if c == java.lang.Long.TYPE => Seq(LongType)
      case c if c == java.lang.Integer.TYPE => Seq(IntegerType)
      case c if c == classOf[UTF8String] => Seq(StringType)
      case c => throw new IllegalStateException(
        s"$prettyName: no SQL type for kernel parameter ${c.getName}")
    }

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val ok = inputTypes.zip(got).forall { case (ws, g) =>
      ws.exists {
        case ArrayType(w, _) => g match {
          case ArrayType(e, _) => w == e
          case _ => false
        }
        case w => w == g
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else {
      val want = inputTypes.map(_.map(_.simpleString).mkString(" or "))
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
        (if (got.size == 1) want.head else want.mkString("(", ", ", ")")) +
        s", got ${got.map(_.simpleString).mkString(", ")}")
    }
  }

  protected def call(inputs: Any*): Any = {
    val args = inputs.map(_.asInstanceOf[AnyRef]) ++ boxedArgs
    val out =
      try method.invoke(bound.owner, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (returnsString) UTF8String.fromString(out.asInstanceOf[String]) else out
  }

  protected def callCode(
      ctx: CodegenContext, ev: ExprCode, inputs: String*): String = {
    val cls = bound.owner.getClass
    // an instance is named in the generated code by its class
    // (`/* bm25QueryModel */`)
    val owner =
      if (ownerIsObject) s"${cls.getName}.MODULE$$"
      else ctx.addReferenceObj(cls.getSimpleName.head.toLower +
        cls.getSimpleName.tail, bound.owner, cls.getName)
    val target = s"$owner.${bound.method}(" +
      (inputs ++ bound.args.map(_.toString)).mkString(", ") + ")"
    if (returnsBoxed) {
      val tmp = ctx.freshName("boxed")
      s"""${CodeGenerator.boxedType(dataType)} $tmp = $target;
         |${ev.isNull} = $tmp == null;
         |if ($tmp != null) ${ev.value} = $tmp.${CodeGenerator.javaType(dataType)}Value();"""
        .stripMargin
    } else {
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
}

object KernelCall {

  /** The accepted types of a vector input: either element type. */
  val Vector: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))

  /** 1 when `e` is an `array<float>`, else 0: the literal argument a
    * vector kernel reads its elements by (`ArrayData` does not name its
    * element type). */
  def floatElems(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _) => 1
    case _ => 0
  }
}

/** A one-input [[KernelCall]]: a subclass declares its signature,
  * `dataType`, `prettyName`, `kernel` and `withNewChildInternal`. */
abstract class KernelExpression extends UnaryExpression with KernelCall {

  override def nullSafeEval(input: Any): Any = call(input)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => callCode(ctx, ev, c))
}

/** The two-input twin of [[KernelExpression]]. */
abstract class BinaryKernelExpression extends BinaryExpression with KernelCall {

  override def nullSafeEval(left: Any, right: Any): Any = call(left, right)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => callCode(ctx, ev, l, r))
}
