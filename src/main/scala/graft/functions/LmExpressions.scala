package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_bigrams(text)` → array<string> of adjacent-token pairs
  * joined by one space — "a b c" → ["a b", "b c"] — WITH multiplicity
  * (unlike the deduplicating [[NgramShingles]], counts need every
  * occurrence). The codegen'd kernel replaces a
  * `transform(slice(...))` higher-order pipeline, whose interpreted
  * per-element lambda measured ~7× slower over a 53M-pair corpus:
  * bigram counting runs twice per [[graft.operators.LmScore
  * .scoreBigram]] call, so the pair explode must ride whole-stage
  * codegen like the token explode does. Under-2-token rows → empty
  * array (explode drops them); null text → null. Tokens cannot
  * contain the separator (they come from a space split), so the
  * joined pair string is collision-free and `substring_index(bg,
  * ' ', 1)` recovers `prev` exactly. */
case class TokenBigrams(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_bigrams"
  override def kernel: Kernel = Kernel(TokenBigrams, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TokenBigrams {
  private val space = UTF8String.fromString(" ")

  /** The kernel; public so generated code can call it. */
  def compute(text: UTF8String): GenericArrayData = {
    val toks = text.split(space, -1)
    if (toks.length < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](toks.length - 1)
    var i = 1
    while (i < toks.length) {
      out(i - 1) = UTF8String.concat(toks(i - 1), space, toks(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Frozen add-k unigram model for per-row LM quality scoring
  * ([[UnigramBits]]): the bounded top-`vocab` token counts plus the
  * FULL corpus normalizer (N, V) ride into executors as one codegen
  * reference object, so scoring a row is a zero-join, zero-shuffle,
  * zero-state map — the shape that runs identically over a batch
  * table and a structured stream (the CCNet deployment: model fit on
  * a reference corpus, applied to the crawl as it arrives).
  *
  * Contract tying the frozen form to [[graft.operators.LmScore.score]]
  * exactly: an in-vocab token scores with its true count; an
  * out-of-vocab token scores as count 0 — the add-k floor
  * −log2(k / (N + k·V)). With `vocab` ≥ the corpus vocabulary the two
  * paths agree on every document (spec-pinned); with a smaller vocab
  * the frozen score upper-bounds the exact one (dropped counts only
  * lower p), which is the conservative direction for a keep/drop
  * filter. Tokenization is the same single-space split as the
  * DataFrame path, so batch and stream agree row-for-row. */
case class UnigramModelRef(
    vocab: Seq[(String, Long)],
    n: Double,
    v: Double,
    k: Double) {
  require(k > 0, s"smoothing k must be positive, got $k")

  @transient private lazy val counts: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, c) => m.put(UTF8String.fromString(t), c) }
    m
  }

  private val space = UTF8String.fromString(" ")
  @transient private lazy val denom = n + k * v
  @transient private lazy val ln2 = math.log(2.0)

  /** Total bits −Σ log2 p(tok) of the row (the caller divides by the
    * token count); public so generated code can call it. */
  def bits(text: UTF8String): Double = {
    val toks = text.split(space, -1)
    var total = 0.0
    var i = 0
    while (i < toks.length) {
      val c = counts.get(toks(i))
      val ct = if (c == null) 0L else c.longValue
      total += -(math.log((ct + k) / denom) / ln2)
      i += 1
    }
    total
  }
}

/** Frozen add-k BIGRAM model — [[UnigramModelRef]] generalized to
  * order-sensitive scoring ([[graft.operators.LmScore.scoreBigram]]'s
  * frozen deployment form): the bounded top-`vocab` unigram counts,
  * the bounded top-`bigrams` (prev, tok) counts, and the FULL corpus
  * (N, V) normalizer ride into executors as one codegen reference
  * object. Scoring stays a zero-join, zero-shuffle, zero-state map —
  * batch and stream agree row-for-row.
  *
  * Contract tying the frozen form to `scoreBigram` exactly: token 0
  * scores under the add-k unigram (OOV → count 0, the add-k floor);
  * token i ≥ 1 under (c(prev,tok) + k) / (c(prev) + k·V) with an
  * absent bigram backing off to count 0 and an out-of-vocab PREV
  * backing off to c(prev) = 0 (denominator k·V — the maximum-entropy
  * floor). With both budgets covering the corpus the frozen and
  * corpus-native paths agree on every document (spec-pinned); smaller
  * budgets only drop counts, which only raises bits — the
  * conservative direction for a keep/drop filter. */
case class BigramModelRef(
    vocab: Seq[(String, Long)],
    bigrams: Seq[((String, String), Long)],
    n: Double,
    v: Double,
    k: Double) {
  require(k > 0, s"smoothing k must be positive, got $k")

  @transient private lazy val uniCounts
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, c) => m.put(UTF8String.fromString(t), c) }
    m
  }

  // (prev, tok) keyed by the concatenation with the same single-space
  // separator as tokenization: tokens cannot contain a space, so the
  // joined key is collision-free.
  @transient private lazy val biCounts
      : java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bigrams.size * 2)
    bigrams.foreach { case ((p, t), c) => m.put(p + " " + t, c) }
    m
  }

  private val space = UTF8String.fromString(" ")
  @transient private lazy val ln2 = math.log(2.0)

  /** Total bits of the row under the frozen bigram model; public so
    * generated code can call it. */
  def bits(text: UTF8String): Double = {
    val toks = text.split(space, -1)
    if (toks.length == 0) return 0.0
    val c0 = uniCounts.get(toks(0))
    val ct0 = if (c0 == null) 0L else c0.longValue
    var total = -(math.log((ct0 + k) / (n + k * v)) / ln2)
    var i = 1
    while (i < toks.length) {
      val cb = biCounts.get(toks(i - 1).toString + " " + toks(i).toString)
      val cbt = if (cb == null) 0L else cb.longValue
      val cp = uniCounts.get(toks(i - 1))
      val cpt = if (cp == null) 0L else cp.longValue
      total += -(math.log((cbt + k) / (cpt + k * v)) / ln2)
      i += 1
    }
    total
  }
}

/** `bigram_bits(text)` under a [[BigramModelRef]] → DOUBLE total
  * bits. Null text → null. */
case class BigramBits(child: Expression, model: BigramModelRef)
    extends KernelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bigram_bits"
  override def kernel: Kernel = Kernel(model, "bits")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `unigram_bits(text)` under a [[UnigramModelRef]] → DOUBLE total
  * bits. Null text → null. */
case class UnigramBits(child: Expression, model: UnigramModelRef)
    extends KernelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "unigram_bits"
  override def kernel: Kernel = Kernel(model, "bits")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
