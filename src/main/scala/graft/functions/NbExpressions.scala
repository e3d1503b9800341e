package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frozen multinomial Naive-Bayes quality classifier for per-row
  * log-odds scoring ([[NbLogOdds]]) — the closed-form analog of the
  * supervised quality filter every frontier pipeline runs (GPT-3
  * trained a logistic classifier on WebText-vs-crawl; LLaMA a
  * fastText one on Wikipedia-references-vs-crawl; reference
  * capability: the quality dimension of the txtai scoring surface).
  * Logistic/fastText weights are SGD artifacts an external SQL
  * oracle cannot re-derive; multinomial NB with add-k smoothing is
  * the same bag-of-words linear scorer with weights that ARE
  * closed-form count ratios — every probability re-derivable exactly
  * from the corpus, which keeps the whole operator inside the repo's
  * oracle discipline.
  *
  * The bounded top-`vocab` per-class token counts plus the FULL
  * two-class normalizer (N⁺, N⁻, V) and the document-prior bits ride
  * into executors as one codegen reference object, so scoring a row
  * is a zero-join, zero-shuffle, zero-state map — the shape that runs
  * identically over a batch table and a structured stream (fit once
  * on the labeled reference snapshot, score the crawl as it arrives).
  *
  * Contract tying the frozen form to
  * [[graft.operators.NbClassifier.score]] exactly: an in-vocab token
  * scores with its true per-class counts; an out-of-vocab token
  * scores as count 0 in BOTH classes — the add-k floor
  * log2((N⁻ + k·V) / (N⁺ + k·V)), a constant that favors whichever
  * class has the smaller denominator (maximum-entropy behavior, not
  * a keep/drop bias). With `vocab` covering the labeled corpus the
  * two paths agree on every document (spec-pinned). Tokenization is
  * the same single-space split as the DataFrame path, so batch and
  * stream agree row-for-row. */
case class NbModelRef(
    vocab: Seq[(String, Long, Long)],
    nPos: Double,
    nNeg: Double,
    v: Double,
    priorBits: Double,
    k: Double) {
  require(k > 0, s"smoothing k must be positive, got $k")

  @transient private lazy val counts
      : java.util.HashMap[UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[UTF8String, Array[Long]](vocab.size * 2)
    vocab.foreach { case (t, cp, cn) =>
      m.put(UTF8String.fromString(t), Array(cp, cn))
    }
    m
  }

  private val space = UTF8String.fromString(" ")
  @transient private lazy val denomPos = nPos + k * v
  @transient private lazy val denomNeg = nNeg + k * v
  @transient private lazy val ln2 = math.log(2.0)

  /** Total log-odds prior + Σ_tok [log2 p(t|+) − log2 p(t|−)] of the
    * row; public so generated code can call it. */
  def logOdds(text: UTF8String): Double = {
    val toks = text.split(space, -1)
    var total = priorBits
    var i = 0
    while (i < toks.length) {
      val c = counts.get(toks(i))
      val cp = if (c == null) 0L else c(0)
      val cn = if (c == null) 0L else c(1)
      total += (math.log((cp + k) / denomPos) -
        math.log((cn + k) / denomNeg)) / ln2
      i += 1
    }
    total
  }
}

/** `nb_log_odds(text)` under a [[NbModelRef]] → DOUBLE total log-odds
  * (prior included). Null text → null. */
case class NbLogOdds(child: Expression, model: NbModelRef)
    extends KernelExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "nb_log_odds"
  override def kernel: Kernel = Kernel(model, "logOdds")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
