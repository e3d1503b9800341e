package graft.functions

import graft.operators.Robots
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots_allowed(robots_txt, path) -> boolean: the RFC 9309 Robots
  * Exclusion Protocol decision for the `*` agent — grouped
  * User-agent/Allow/Disallow parsing, `*`/`$` pattern matching,
  * longest-pattern-wins with Allow on ties ([[Robots.allowed]]).
  * The governance filter of a crawl pipeline: which fetched URLs a
  * compliant crawler may keep. Unparseable robots.txt → allowed (the
  * protocol default). */
case class RobotsAllowed(left: Expression, right: Expression)
    extends BinaryKernelExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "robots_allowed"
  override def kernel: Kernel = Kernel(RobotsAllowed, "compute")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RobotsAllowed {
  /** The kernel; public so generated code can call it. */
  def compute(robots: UTF8String, path: UTF8String): Boolean =
    Robots.allowed(robots.toString, path.toString)
}
