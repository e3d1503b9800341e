package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must pass on right answers and fail on wrong ones. */
class ChecksSpec extends AnyFunSuite {

  private val rng = new java.util.Random(7)
  private val rows: Seq[(Long, Array[Float])] =
    (0 until 300).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() - 0.5f)))
  private val q = Array.fill(16)(rng.nextFloat() - 0.5f)

  private def bruteForce(k: Int): Seq[(Long, Double)] =
    rows.map { case (id, v) => (id, Checks.cosine(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)

  test("exact top-k equals a full sort, ties by ascending id") {
    assert(Checks.exactTopK(rows, q, 10) == bruteForce(10))
    val tied = Seq((5L, Array(1f, 0f)), (2L, Array(2f, 0f)), (9L, Array(0f, 1f)))
    assert(Checks.exactTopK(tied, Array(1f, 0f), 2).map(_._1) == Seq(2L, 5L))
  }

  test("cosine matches the definition") {
    assert(Checks.cosine(Array(1f, 0f), Array(0f, 1f)) == 0.0)
    assert(math.abs(Checks.cosine(Array(1f, 1f), Array(2f, 2f)) - 1.0) < 1e-12)
    assert(Checks.cosine(Array(0f, 0f), Array(1f, 1f)) == 0.0)
  }

  test("a correct ranking passes") {
    val want = bruteForce(10)
    assert(Checks.rankingMismatch(want, want, 1e-9).isEmpty)
  }

  test("a dropped top-10 hit fails the ranking check") {
    val want = bruteForce(10)
    val next = bruteForce(11).last
    val dropped = want.take(4) ++ want.drop(5) :+ next
    assert(Checks.rankingMismatch(dropped, want, 1e-9).nonEmpty)
    assert(Checks.rankingMismatch(want.take(9), want, 1e-9).nonEmpty)
  }

  test("a swapped or rescored ranking fails; ties may swap") {
    val want = bruteForce(10)
    val swapped = want.updated(0, want(1)).updated(1, want(0))
    assert(Checks.rankingMismatch(swapped, want, 1e-9).nonEmpty)
    val rescored = want.updated(3, (want(3)._1, want(3)._2 + 1e-3))
    assert(Checks.rankingMismatch(rescored, want, 1e-9).nonEmpty)
    val ties = Seq((1L, 0.9), (2L, 0.8), (3L, 0.8), (4L, 0.7))
    val tiesSwapped = Seq((1L, 0.9), (3L, 0.8), (2L, 0.8), (4L, 0.7))
    assert(Checks.rankingMismatch(tiesSwapped, ties, 1e-9).isEmpty)
    assert(Checks.rankingMismatch(ties.updated(0, (1L, 0.9)) :+ ((1L, 0.7)),
      ties :+ ((5L, 0.7)), 1e-9).nonEmpty) // duplicate id
  }

  test("recall@k") {
    assert(Checks.recall(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L)) == 2.0 / 3)
    assert(Checks.recall(Nil, Seq(1L)) == 0.0)
  }

  test("shingles and Jaccard follow ngram_shingles semantics") {
    assert(Checks.shingles("a b c d", 3) == Set("a b c", "b c d"))
    assert(Checks.shingles("a b", 3).isEmpty)
    assert(Checks.shingles("a b a b", 2) == Set("a b", "b a"))
    val j = Checks.jaccard(Checks.shingles("a b c d", 3), Checks.shingles("a b c e", 3))
    assert(j == 1.0 / 3)
  }

  test("merges implied by a pair graph: nodes minus components") {
    assert(Checks.mergesImplied(Nil) == 0)
    assert(Checks.mergesImplied(Seq((1L, 2L), (2L, 3L), (5L, 6L))) == 3)
    assert(Checks.mergesImplied(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == 2)
  }

  test("the dedup pass check accepts the right output and rejects wrong ones") {
    val c = Data.dedupCorpus(11L, 400)
    val right = (c.nearPairs ++ c.exactPairs).toArray.map { case (a, b) =>
      (a, b, Checks.jaccard(Checks.shingles(c.textById(a), 3),
        Checks.shingles(c.textById(b), 3)))
    }
    val survivors = c.size - c.nearPairs.size - c.exactPairs.size
    assert(DedupBatch.checkPass(c, right, survivors, 1L) == 1.0)
    intercept[CheckFailed](DedupBatch.checkPass(c, right, survivors + 1, 1L))
    val noExact = right.filterNot(p => c.exactPairs((p._1, p._2)))
    intercept[CheckFailed](DedupBatch.checkPass(c, noExact,
      survivors + c.exactPairs.size, 1L))
    val wrongScore = right.map { case (a, b, j) => (a, b, j * 0.9) }
    intercept[CheckFailed](DedupBatch.checkPass(c, wrongScore, survivors, 1L))
    val bogus = right :+ ((c.ids(0) min c.ids(1), c.ids(0) max c.ids(1), 0.9))
    intercept[CheckFailed](DedupBatch.checkPass(c, bogus, survivors - 1, 1L))
  }

  test("generated inputs depend only on the seed") {
    val a = Data.dedupCorpus(5L, 300)
    val b = Data.dedupCorpus(5L, 300)
    val other = Data.dedupCorpus(6L, 300)
    assert(a.texts.toSeq == b.texts.toSeq && a.ids.toSeq == b.ids.toSeq)
    assert(a.nearPairs == b.nearPairs && a.exactPairs == b.exactPairs)
    assert(a.texts.toSeq != other.texts.toSeq)
    assert(a.nearPairs.forall { case (x, y) =>
      Checks.jaccard(Checks.shingles(a.textById(x), 3),
        Checks.shingles(a.textById(y), 3)) >= 0.6 })
    assert(a.exactPairs.forall { case (x, y) => a.textById(x) == a.textById(y) })
    assert(a.texts.forall(_.split(" ").forall(_.matches("[a-z]+"))))
  }
}
