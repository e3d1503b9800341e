package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row BM25 scoring for the SQL dialect's `keyword_score('terms')`
  * (the lexical twin of [[Similar]]): the corpus-global statistics —
  * per-term idf and the corpus avgdl — are resolved ONCE at analysis
  * time (from the registered corpus or a bucket-pruned
  * [[graft.operators.Bm25Index]], see [[graft.Keyword]]) and ride into
  * the executors inside this model, so the per-row kernel is a single
  * tokenize-and-sum with no join, no shuffle, and no broadcast: the
  * scan stays one WholeStageCodegen span and predicates like
  * `keyword_score(...) > 0` stay pushable.
  *
  * The math is literal-for-literal [[graft.operators.Bm25.termMicros]]
  * (Lucene idf, k1=1.2, b=0.75, per-term integer micros via HALF_UP —
  * Spark's `round` — summed per doc), so a row's score here is
  * bit-identical to the same row's `bm25_micros` from
  * [[graft.operators.Bm25.score]] over the same corpus. */
case class Bm25QueryModel(
    terms: Seq[String],
    idfs: Seq[Double],
    avgdl: Double) {

  @transient private lazy val termArr: Array[String] = terms.toArray
  @transient private lazy val idfArr: Array[Double] = idfs.toArray

  /** The kernel; public so generated code can call it. Tokenizes with
    * [[graft.operators.Bm25.TokenPattern]] semantics (lowercase via
    * UTF8String — the same kernel Spark's `lower` uses — then maximal
    * `[a-z]+|[0-9]+` runs), accumulates per-query-term tf and the doc
    * length in one pass, and sums the rounded per-term micros. */
  def score(text: UTF8String): Long = {
    val s = text.toLowerCase.toString
    val ts = termArr
    val tfs = new Array[Long](ts.length)
    var dl = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      val isAlpha = c >= 'a' && c <= 'z'
      if (isAlpha || (c >= '0' && c <= '9')) {
        // a maximal same-class run == one [a-z]+|[0-9]+ match (the
        // alternation never mixes classes inside one token)
        var j = i + 1
        while (j < len && (if (isAlpha) s.charAt(j) >= 'a' && s.charAt(j) <= 'z'
                           else s.charAt(j) >= '0' && s.charAt(j) <= '9')) j += 1
        dl += 1
        var t = 0
        while (t < ts.length) {
          val term = ts(t)
          if (term.length == j - i && s.startsWith(term, i)) tfs(t) += 1
          t += 1
        }
        i = j
      } else i += 1
    }
    var total = 0L
    var t = 0
    while (t < tfs.length) {
      val tf = tfs(t)
      if (tf > 0) {
        val tfn = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        total += java.math.BigDecimal.valueOf(idfArr(t) * tfn * 1000000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      }
      t += 1
    }
    total
  }
}

/** Driver-collected benchmark shingle set for the stateless per-row
  * leak test ([[ShingleHits]]): the benchmark side of decontamination
  * is small by definition (an eval set, not a corpus), so its distinct
  * n-gram shingles ride into executors as one reference object and a
  * row is tested with ZERO joins, shuffles, or state — the shape that
  * works identically over a batch table and a structured stream.
  * Keys are stored as [[UTF8String]] so row-side lookups allocate
  * nothing beyond the shingle under test. */
case class ShingleSetRef(shingles: Seq[String], n: Int) {
  require(n >= 1)

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](shingles.size * 2)
    shingles.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  private val space = UTF8String.fromString(" ")

  /** Count of DISTINCT shingles of `text` present in the set —
    * tokenization and windowing identical to
    * [[NgramShingles.compute]] (split on single spaces, windows
    * joined by single spaces, distinct), so batch and streaming
    * decontamination agree on every row. */
  def hits(text: UTF8String): Int = {
    val toks = text.split(space, -1)
    if (toks.length < n) return 0
    var matched: java.util.HashSet[UTF8String] = null
    var i = 0
    while (i <= toks.length - n) {
      var sh = toks(i)
      var j = 1
      while (j < n) {
        sh = UTF8String.concat(sh, space, toks(i + j))
        j += 1
      }
      if (set.contains(sh)) {
        if (matched == null) matched = new java.util.HashSet[UTF8String]()
        matched.add(sh)
      }
      i += 1
    }
    if (matched == null) 0 else matched.size
  }
}

/** `shingle_hits(text)` under a [[ShingleSetRef]] → INT: how many
  * distinct n-grams of the row appear in the benchmark set. Null text
  * → null. */
case class ShingleHits(child: Expression, set: ShingleSetRef)
    extends KernelExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "shingle_hits"
  override def kernel: Kernel = Kernel(set, "hits")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `keyword_score(text)` under a resolved [[Bm25QueryModel]] → BIGINT
  * micros (0 = no query term present). The model is the kernel owner,
  * so the generated code calls it directly and scoring composes into
  * the surrounding WholeStageCodegen like [[Fingerprint]]. */
case class Bm25Score(child: Expression, model: Bm25QueryModel)
    extends KernelExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "keyword_score"
  override def kernel: Kernel = Kernel(model, "score")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
