package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A cosine codebook: the ONE centroid scoring loop behind row
  * assignment ([[NearestCentroid]]), the quantization-quality signal
  * ([[CentroidCosine]]) and driver-side query routing
  * ([[graft.operators.Ivf.Model.nearest]]), so a query probes exactly
  * the cell its own row would be assigned to.
  *
  * The table rides inside the expression (IVF codebooks are small —
  * k ≤ a few thousand — and broadcast with the serialized plan), so
  * assignment is one tight k×dim loop per row instead of k separate
  * `cosine_sim` expressions feeding an argmax HOF (the interpreted-
  * lambda trap measured in round 1). */
final case class CentroidBook(centroids: Array[Array[Float]]) {
  require(centroids.nonEmpty, "empty codebook")

  val dim: Int = centroids(0).length

  // per-centroid L2 norms, precomputed once per (deserialized) book
  @transient private lazy val norms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
    math.sqrt(s)
  }

  /** The cosine of `x` (squared norm `nx`, non-zero) to centroid `c`;
    * 0.0 for a zero centroid. */
  def cosine(x: Array[Double], nx: Double, c: Int): Double = {
    val cen = centroids(c)
    var dot = 0.0
    var i = 0
    while (i < dim) { dot += x(i) * cen(i); i += 1 }
    if (norms(c) == 0.0) 0.0 else dot / (math.sqrt(nx) * norms(c))
  }

  /** The first centroid of highest cosine to `x`, -1 when no cosine
    * is a number. */
  private def argmax(x: Array[Double], nx: Double): Int = {
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val score = cosine(x, nx, c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** The `n` centroids of highest cosine to `v` among `allowed`
    * (cosine desc, ties by id). */
  def ranked(v: Array[Float], n: Int, allowed: Int => Boolean): Seq[Int] = {
    require(v.length == dim,
      s"codebook: vector dimension ${v.length} vs $dim")
    val x = v.map(_.toDouble)
    val nx = x.map(e => e * e).sum
    centroids.indices.filter(allowed)
      .map(c => (if (nx == 0.0) 0.0 else cosine(x, nx, c), c))
      .sortBy { case (s, c) => (-s, c) }
      .take(n).map(_._2)
  }

  /** `v` as doubles with its squared norm last; null on a dimension
    * mismatch. */
  private def read(v: ArrayData, floatElems: Int): Array[Double] = {
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim + 1)
    var nx = 0.0
    var i = 0
    while (i < dim) {
      x(i) = if (floatElems == 1) v.getFloat(i).toDouble else v.getDouble(i)
      nx += x(i) * x(i)
      i += 1
    }
    x(dim) = nx
    x
  }

  /** The [[NearestCentroid]] kernel: null on a dimension mismatch; a
    * zero vector (every cosine 0) assigns to centroid 0. */
  def nearest(v: ArrayData, floatElems: Int): java.lang.Integer = {
    val x = read(v, floatElems)
    if (x == null) null
    else if (x(dim) == 0.0) 0
    else math.max(argmax(x, x(dim)), 0)
  }

  /** The [[CentroidCosine]] kernel: null on a dimension mismatch, 0.0
    * for a zero vector. */
  def nearestCosine(v: ArrayData, floatElems: Int): java.lang.Double = {
    val x = read(v, floatElems)
    if (x == null) null
    else if (x(dim) == 0.0) 0.0
    else {
      val best = argmax(x, x(dim))
      if (best < 0) Double.NegativeInfinity else cosine(x, x(dim), best)
    }
  }
}

/** nearest_centroid(vec) -> int: index of the centroid with the highest
  * cosine similarity to `vec` (ties break to the smaller index; a
  * vector whose dimension doesn't match the centroids yields null —
  * same contract as the cosine kernels). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends KernelExpression {
  require(centroids.nonEmpty, "nearest_centroid: empty codebook")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  // null on dim mismatch even for non-null input
  override def nullable: Boolean = true
  override def inputTypes: Seq[Seq[DataType]] = Seq(KernelCall.Vector)

  @transient private lazy val book = CentroidBook(centroids)
  override def kernel: Kernel =
    Kernel(book, "nearest", KernelCall.floatElems(child))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** centroid_cosine(vec) -> double: the cosine similarity to the vec's
  * NEAREST centroid — the quantization-quality signal behind codebook
  * drift detection ([[graft.operators.Ivf.drift]]): when new data
  * stops resembling the data the codebook was trained on, this score
  * sinks, and the retrain trigger fires on the fraction below the
  * reference band. Same [[CentroidBook]] loop and contracts as
  * [[NearestCentroid]] (dim mismatch → null, zero vector → 0.0). */
case class CentroidCosine(child: Expression, centroids: Array[Array[Float]])
    extends KernelExpression {
  require(centroids.nonEmpty, "centroid_cosine: empty codebook")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "centroid_cosine"
  override def nullable: Boolean = true
  override def inputTypes: Seq[Seq[DataType]] = Seq(KernelCall.Vector)

  @transient private lazy val book = CentroidBook(centroids)
  override def kernel: Kernel =
    Kernel(book, "nearestCosine", KernelCall.floatElems(child))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
