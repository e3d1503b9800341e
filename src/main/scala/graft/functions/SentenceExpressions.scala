package graft.functions

import graft.operators.Sentences
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** sentence_split(text) -> array<string>: rule-based sentence
  * boundaries with the abbreviation/decimal guards
  * ([[Sentences.split]]). Null in → null out. */
case class SentenceSplit(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sentence_split"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(SentenceSplit, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SentenceSplit {
  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val parts = Sentences.split(s.toString)
    val out = new Array[Any](parts.length)
    var i = 0
    while (i < parts.length) {
      out(i) = UTF8String.fromString(parts(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
