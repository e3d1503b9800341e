package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `hashed_ngram_buckets(text)` → array<long> of hashed n-gram feature
  * buckets — the DSIR feature map (Xie et al. 2023 §3: unigrams AND
  * bigrams hashed into a fixed number of buckets; the hash-collision
  * coarsening IS the model, not a shortcut). Multiplicity is kept
  * (counts need every occurrence); a document with n tokens yields
  * exactly 2n−1 features (n unigrams + n−1 bigrams). The hash is
  * [[HashMix.portableHash61]] so an external SQL oracle re-derives
  * every bucket id exactly; bigram keys are the two tokens joined by
  * one space (collision-free — tokens come from a space split).
  * Null text → null. */
case class HashedNgramBuckets(child: Expression, buckets: Int)
    extends KernelExpression {
  require(buckets > 0, s"buckets must be positive, got $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_ngram_buckets"
  override def kernel: Kernel = Kernel(HashedNgramBuckets, "compute", buckets)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HashedNgramBuckets {
  private val space = UTF8String.fromString(" ")

  /** The kernel; public so generated code can call it. */
  def compute(text: UTF8String, buckets: Int): GenericArrayData = {
    val toks = text.split(space, -1)
    val n = toks.length
    val out = new Array[Any](2 * n - 1 max n) // n==0 cannot happen (split of "" is [""])
    var i = 0
    while (i < n) {
      out(i) = java.lang.Math.floorMod(
        HashMix.portableHash61(toks(i)), buckets.toLong)
      i += 1
    }
    i = 1
    while (i < n) {
      val bg = UTF8String.concat(toks(i - 1), space, toks(i))
      out(n + i - 1) = java.lang.Math.floorMod(
        HashMix.portableHash61(bg), buckets.toLong)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Frozen DSIR importance model for per-row log-weight scoring
  * ([[DsirLogWeight]]): the COMPLETE per-bucket log-ratio table
  * λ_b = log2 p̂_target(b) − log2 p̂_raw(b) rides into executors as one
  * codegen reference object. Unlike a truncated vocabulary, the
  * hashed feature space is bounded by construction (`buckets` slots),
  * so the frozen model is EXACT — frozen and corpus-native scoring
  * agree on every document (spec-pinned), and the deployment form
  * loses nothing. Scoring is a zero-join, zero-shuffle, zero-state
  * map that runs identically over a batch table and a structured
  * stream. */
case class DsirModelRef(logRatio: Array[Double]) {
  require(logRatio.nonEmpty, "empty bucket table")

  private val space = UTF8String.fromString(" ")
  @transient private lazy val b = logRatio.length

  /** Total log2 importance weight of the row (sum of per-feature
    * bucket log-ratios); public so generated code can call it. */
  def logWeight(text: UTF8String): Double = {
    val toks = text.split(space, -1)
    var total = 0.0
    var i = 0
    while (i < toks.length) {
      total += logRatio(java.lang.Math.floorMod(
        HashMix.portableHash61(toks(i)), b.toLong).toInt)
      i += 1
    }
    i = 1
    while (i < toks.length) {
      val bg = UTF8String.concat(toks(i - 1), space, toks(i))
      total += logRatio(java.lang.Math.floorMod(
        HashMix.portableHash61(bg), b.toLong).toInt)
      i += 1
    }
    total
  }
}

/** `dsir_log_weight(text)` under a [[DsirModelRef]] → DOUBLE total
  * log2 importance weight. Null text → null. */
case class DsirLogWeight(child: Expression, model: DsirModelRef)
    extends KernelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dsir_log_weight"
  override def kernel: Kernel = Kernel(model, "logWeight")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
