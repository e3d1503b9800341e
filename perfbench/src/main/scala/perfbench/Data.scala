package perfbench

import java.util.Random

/** Seeded synthetic inputs. The same seed always yields the same rows;
  * the program under test only ever sees what is generated here. */
object Data {

  /** Letter-only pseudo-words (the BM25 tokenizer splits on anything
    * that is not [a-z]+ or [0-9]+), unique by construction: two or
    * three two-letter syllables. */
  val Vocabulary: Array[String] = {
    val cons = "bdfghjklmnprstvwxyzc"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    Array.tabulate(20000) { i =>
      val two = syl(i % 100) + syl((i / 100) % 100)
      if (i < 10000) two else two + syl(i / 10000)
    }
  }

  private val Topics = 32
  private val TopicShare = 0.6
  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocabulary.length)(r => 1.0 / math.pow(r + 1.0, 1.05))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** Zipf-skewed token streams with topic structure: each document
    * draws a topic, and most of its tokens come from that topic's own
    * rank-to-word mapping, the rest from the global one. */
  final class TextGen(val rng: Random) {
    private val v = Vocabulary.length
    // multipliers coprime with the vocabulary size (2^5 * 5^4)
    private val topicMap: Array[(Int, Int)] = Array.fill(Topics) {
      val odd = Seq(1, 3, 7, 9)
      (10 * rng.nextInt(v / 10) + odd(rng.nextInt(4)), rng.nextInt(v))
    }

    private def zipfRank(): Int = {
      val i = java.util.Arrays.binarySearch(ZipfCdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, v - 1)
    }

    def tokens(): Array[String] = {
      val (a, b) = topicMap(rng.nextInt(Topics))
      Array.fill(80 + rng.nextInt(41)) {
        val r = zipfRank()
        if (rng.nextDouble() < TopicShare)
          Vocabulary(((r.toLong * a + b) % v).toInt)
        else Vocabulary(r)
      }
    }

    def doc(): String = tokens().mkString(" ")

    /** Replace each token with a uniformly drawn word at `rate`; at
      * least one token always changes. */
    def edit(text: String, rate: Double): String = {
      val t = text.split(" ", -1)
      val forced = rng.nextInt(t.length)
      for (i <- t.indices if i == forced || rng.nextDouble() < rate)
        t(i) = Vocabulary(rng.nextInt(v))
      t.mkString(" ")
    }

    /** `len` consecutive tokens of `text`, as a query string. */
    def window(text: String, len: Int): String = {
      val t = text.split(" ", -1)
      val from = rng.nextInt(math.max(1, t.length - len))
      t.slice(from, from + len).mkString(" ")
    }
  }

  /** A dedup corpus with planted duplicates, all disjoint pairs:
    *  - near pairs: a source and a clone with ~`editRate` of its tokens
    *    replaced, kept only when their exact 3-shingle Jaccard is at
    *    least `minJaccard` (so every planted pair is a true near-dup);
    *  - exact pairs: a source and a verbatim copy under another id.
    * Ids are a seeded permutation of [0, n), so duplicates are not
    * adjacent. Pairs are stored as (smaller id, larger id). */
  final case class DedupCorpus(
      ids: Array[Long],
      texts: Array[String],
      nearPairs: Set[(Long, Long)],
      exactPairs: Set[(Long, Long)]) {
    def size: Int = ids.length
    lazy val textById: Map[Long, String] = ids.zip(texts).toMap
  }

  def dedupCorpus(seed: Long, n: Int, nearShare: Double = 0.05,
      exactShare: Double = 0.02, editRate: Double = 0.05,
      minJaccard: Double = 0.6): DedupCorpus = {
    val g = new TextGen(new Random(seed))
    val nNear = math.round(n * nearShare).toInt
    val nExact = math.round(n * exactShare).toInt
    val nBase = n - nNear - nExact
    val base = Array.fill(nBase)(g.doc())
    val clones = (0 until nNear).map { i =>
      var c = g.edit(base(i), editRate)
      while (Checks.jaccard(Checks.shingles(base(i), 3),
          Checks.shingles(c, 3)) < minJaccard)
        c = g.edit(base(i), editRate)
      c
    }
    val copies = (0 until nExact).map(i => base(nNear + i))
    val texts = base ++ clones ++ copies
    val perm = shuffled(g.rng, n)
    val ids = Array.tabulate(n)(i => perm(i).toLong)
    def pair(a: Int, b: Int) =
      (math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
    DedupCorpus(ids, texts,
      (0 until nNear).map(i => pair(i, nBase + i)).toSet,
      (0 until nExact).map(i => pair(nNear + i, nBase + nNear + i)).toSet)
  }

  def shuffled(rng: Random, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def uid(i: Int): String = f"u$i%08d"
}
