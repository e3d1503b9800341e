package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** `z_value(x, y)` → BIGINT: Morton (Z-order) interleave of the low
  * 21 bits of two non-negative longs — bit i of x lands at position
  * 2i, bit i of y at 2i+1, so points close in BOTH dimensions are
  * close on the curve. The multi-dimensional clustering key behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`: sort-or-range-partition by
  * this key and every output file gets a small bounding box in BOTH
  * columns, which is what min/max file skipping needs (a single-
  * column sort gives perfect pruning on one dimension and none on
  * the other).
  *
  * Pure bit arithmetic (no lookup tables), so an external SQL oracle
  * re-derives every key; 21+21 bits keeps the result well under
  * 2^63. Negative inputs or values needing more than 21 bits → null
  * (the dirty-input contract: out-of-domain rows drop out of the
  * layout rather than folding into wrong buckets). */
case class ZValue(left: Expression, right: Expression)
    extends BinaryKernelExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "z_value"
  // an int input widens to the kernel's long on both paths
  override def inputTypes: Seq[Seq[DataType]] =
    Seq.fill(2)(Seq(LongType, IntegerType))
  override def checkInputDataTypes(): TypeCheckResult =
    if (super.checkInputDataTypes().isSuccess) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires integral " +
      s"inputs, got ${(left.dataType, right.dataType)}")
  override def kernel: Kernel = Kernel(ZValue, "interleave")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object ZValue {
  final val Bits = 21
  private final val Max = (1L << Bits) - 1

  /** The kernel; boxed so out-of-domain inputs can return null.
    * Public so generated code can call it. */
  def interleave(x: Long, y: Long): java.lang.Long = {
    if (x < 0 || y < 0 || x > Max || y > Max) return null
    var z = 0L
    var i = 0
    while (i < Bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    java.lang.Long.valueOf(z)
  }
}
