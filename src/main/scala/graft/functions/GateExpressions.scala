package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The quality gate's five in-row integer signals in ONE codegen'd
  * tokenization pass ([[graft.operators.QualityGate.signals]]):
  * token count, distinct-token count, stopword occurrences, total
  * token characters, and the highest adjacent-bigram multiplicity.
  *
  * Replaces a pipeline of five higher-order builtins (`transform` +
  * `sequence` bigram build, `array_sort` + `aggregate` longest-run,
  * `array_distinct`, `filter`, `aggregate` char sum) whose
  * per-element lambdas are interpreted — the same penalty class the
  * [[TokenBigrams]] kernel retired from bigram scoring (measured
  * there at ~7× per pair; the gate ran all five per row). Semantics
  * are bit-identical: the sorted-longest-run of the old form IS the
  * max bigram multiplicity this kernel counts directly, stopwords
  * count occurrences (not distinct hits), and characters sum
  * `numChars` per token (what both engines' `length`/`len` return).
  */
case class GateSignalsKernel(stopwords: Seq[String]) {

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  private val space = UTF8String.fromString(" ")

  /** (n_tokens, n_distinct, n_stopwords, n_chars, top_bigram); public
    * so generated code can call it. */
  def compute(text: UTF8String): InternalRow = {
    val toks = text.split(space, -1)
    val n = toks.length
    val distinct = new java.util.HashSet[UTF8String](n * 2)
    var stops = 0L
    var chars = 0L
    var i = 0
    while (i < n) {
      distinct.add(toks(i))
      if (stopSet.contains(toks(i))) stops += 1
      chars += toks(i).numChars()
      i += 1
    }
    var topBigram = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[UTF8String, Long](n * 2)
      i = 1
      while (i < n) {
        val bg = UTF8String.concat(toks(i - 1), space, toks(i))
        val c = counts.merge(bg, 1L, (a, b) => a + b)
        if (c > topBigram) topBigram = c
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](
      n.toLong, distinct.size.toLong, stops, chars, topBigram))
  }
}

/** `gate_signals(text)` under a [[GateSignalsKernel]] →
  * struct<n_tokens:bigint, n_distinct:bigint, n_stopwords:bigint,
  * n_chars:bigint, top_bigram:bigint>. Null text → null. */
case class GateSignals(child: Expression, signals: GateSignalsKernel)
    extends KernelExpression {

  override def dataType: DataType = GateSignals.schema
  override def prettyName: String = "gate_signals"
  override def kernel: Kernel = Kernel(signals, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GateSignals {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_stopwords", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))
}
