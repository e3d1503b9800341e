package perfbench

/** Reference computations the benchmark checks the program against.
  * Each mirrors the documented semantics of the operator it checks,
  * computed independently on the driver. */
object Checks {

  /** Distinct word n-gram shingles of a single-space-tokenized text
    * (the `ngram_shingles` contract). */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty
    else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0
    else inter.toDouble / (a.size + b.size - inter)
  }

  /** Cosine similarity with float inputs accumulated in double, in
    * index order: the same arithmetic as `cosine_sim`, so equal inputs
    * give bit-equal scores. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Exact top-k by cosine over `(id, vector)` rows, ties by ascending
    * id. */
  def exactTopK(rows: Iterable[(Long, Array[Float])], q: Array[Float],
      k: Int): IndexedSeq[(Long, Double)] = {
    val ord = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, s) => (-s, id) }
    // bounded max-heap on the reverse order keeps the k best
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1, ord.reverse)
    rows.foreach { case (id, v) =>
      heap.add((id, cosine(v, q)))
      if (heap.size > k) heap.poll()
    }
    val out = new Array[(Long, Double)](heap.size)
    var i = heap.size - 1
    while (!heap.isEmpty) { out(i) = heap.poll(); i -= 1 }
    out.toIndexedSeq
  }

  /** Why `got` is not the ranking `want`, or None when it is. Scores
    * must agree within `eps` rank by rank, and ids must agree except
    * inside a group of tied scores, where any member of the group may
    * sit at any of its ranks (a group cut by the k-th rank may also
    * hold rows `want` did not list). */
  def rankingMismatch(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      eps: Double): Option[String] = {
    if (got.length != want.length)
      return Some(s"${got.length} rows, expected ${want.length}")
    val k = want.length
    for (i <- 0 until k) {
      val (gid, gs) = got(i)
      val (wid, ws) = want(i)
      if (math.abs(gs - ws) > eps)
        return Some(f"rank ${i + 1}: score $gs%.9f, expected $ws%.9f (id $wid)")
      if (gid != wid) {
        val tied = want.filter { case (_, s) => math.abs(s - ws) <= eps }
        val cutByK = math.abs(want.last._2 - ws) <= eps
        if (tied.length < 2 ||
            (!tied.exists(_._1 == gid) && !cutByK))
          return Some(s"rank ${i + 1}: id $gid, expected $wid")
      }
    }
    if (got.map(_._1).distinct.length != k)
      return Some("duplicate ids in the ranking")
    None
  }

  /** |got ∩ want| / |want|. */
  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0
    else got.toSet.intersect(want.toSet).size.toDouble / want.size

  /** Number of merges the pair graph implies: nodes minus connected
    * components. Keeping one document per component removes exactly
    * this many documents. */
  def mergesImplied(pairs: Iterable[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var merges = 0
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); merges += 1 }
    }
    merges
  }
}
