package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.SparkTestBase

/** MinHash LSH over 64-bit shingle hashes gives what the string
  * formulation gives: `shingle_hashes` is `xxhash64` of each
  * `ngram_shingles` string, `band_keys` is the `transform(sequence(…))`
  * band-slice hash, and `nearDupPairs` equals a pair search that
  * verifies on the shingle strings. */
class MinHashLshHashSpec extends SparkTestBase {

  /** Separator edge cases: doubled, leading and trailing spaces, tabs
    * and newlines (not separators), multi-byte UTF-8, exactly n tokens
    * and fewer than n tokens (for n = 3 and 5), repeated shingles, an
    * empty text and a null one. */
  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a  b   c    d", " leading space here", "trailing space here ",
    "  both  ends  ", "tab\tinside word\tand more words here",
    "new\nline inside\nthe text ok", "café naïve 東京 日本語 テキスト 🙂 x",
    "one two three", "one two three four five", "one two",
    "a b a b a b a b", " ", "   ", "", null)

  private def textDf: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("shingle_hashes equals xxhash64 of each ngram_shingles string: " +
    "same values, same order, null in the same places") {
    for (n <- Seq(1, 3, 5)) {
      val rows = textDf.selectExpr("id",
          s"shingle_hashes(text, $n) AS got",
          s"transform(ngram_shingles(text, $n), s -> xxhash64(s)) AS want")
        .collect()
      assert(rows.length == texts.length)
      rows.foreach { r =>
        val got = Option(r.getSeq[Long](1))
        val want = Option(r.getSeq[Long](2))
        assert(got == want, s"n=$n id=${r.getLong(0)}: $got vs $want")
      }
      // nulls exactly where ngram_shingles is null: null text, < n tokens
      assert(rows.count(_.isNullAt(1)) == texts.count(t =>
        t == null || t.split(" ", -1).length < n), s"n=$n")
      // and the UTF-8 bytes of each distinct shingle, hashed on the driver
      rows.filterNot(_.isNullAt(1)).foreach { r =>
        val shingles = texts(r.getLong(0).toInt).split(" ", -1).sliding(n)
          .map(_.mkString(" ").getBytes("UTF-8")).toSeq
          .distinctBy(b => java.nio.ByteBuffer.wrap(b))
        val expected = shingles.map(b =>
          XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L))
        assert(r.getSeq[Long](1) == expected, s"n=$n id=${r.getLong(0)}")
      }
    }
  }

  test("the hashed and string shingle tables keep the same rows, and " +
    "the space count selects what the token split selects") {
    for (n <- Seq(1, 3, 5)) {
      val hashed = TextDedup.hashedShingles(textDf, "id", "text", n)
        .select(col("id"), col("sh"), col("nsh"))
      val strings = TextDedup.shingles(textDf, "id", "text", n)
        .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("sh"),
          col("nsh"))
      assert(hashed.collect().toSet == strings.collect().toSet, s"n=$n")
      val bySplit = textDf.filter(size(split(col("text"), " ")) >= n)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(hashed.select("id").collect().map(_.getLong(0)).toSet == bySplit,
        s"n=$n")
    }
  }

  /** The band-key lambda `candidatePairs` used before `band_keys`. */
  private def lambdaKeys(bands: Int): String =
    s"transform(sequence(0, ${bands - 1}), b -> " +
      s"xxhash64(slice(sig, b * (size(sig) div $bands) + 1, size(sig) div $bands)))"

  test("band_keys over the hashed signature equals the band-slice " +
    "xxhash64 lambda over the string signature") {
    val sigs = textDf.selectExpr("id",
      "minhash_signature(ngram_shingles(text, 3), 64) AS sig",
      "minhash_signature(shingle_hashes(text, 3), 64) AS hsig")
    val both = sigs.filter(col("sig").isNotNull).collect()
    assert(both.length == texts.count(t => t != null && t.split(" ", -1).length >= 3))
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2)))
    // a null signature (fewer than n tokens) has null band keys; the
    // lambda would hash each null slice to the seed, 42, but no
    // signature the operators band is null
    for (bands <- Seq(16, 32, 20)) {
      val rows = sigs.selectExpr("id", s"band_keys(hsig, $bands) AS got",
        s"${lambdaKeys(bands)} AS want", "sig IS NULL AS none").collect()
      rows.foreach { r =>
        if (r.getBoolean(3)) assert(r.isNullAt(1), s"id=${r.getLong(0)}")
        else {
          val got = r.getSeq[Long](1)
          assert(got == r.getSeq[Long](2), s"bands=$bands id=${r.getLong(0)}")
          assert(got.length == bands)
        }
      }
    }
  }

  /** A seeded corpus: random word documents, each with near copies
    * (a few words replaced) and an exact copy now and then. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
    val docs = (0 until 120).flatMap { i =>
      val base = doc(20 + rnd.nextInt(40))
      val copies = (0 until rnd.nextInt(3)).map { _ =>
        base.map(w => if (rnd.nextDouble() < 0.06) vocab(rnd.nextInt(400)) else w)
      }
      val exact = if (i % 9 == 0) Seq(base) else Nil
      (base +: copies) ++ exact
    }
    rnd.shuffle(docs).zipWithIndex
      .map { case (ws, i) => (i.toLong * 3 + 1, ws.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** The string formulation: band keys from the lambda over the string
    * signature, Jaccard from the shingle strings. */
  private def stringPairs(docs: DataFrame, bands: Int): DataFrame = {
    val sh = TextDedup.shingles(docs, "doc_id", "text", 3)
    val banded = sh.selectExpr("id", "minhash_signature(sh, 64) AS sig")
      .selectExpr("id", s"posexplode(${lambdaKeys(bands)}) AS (band, band_sig)")
    val cands = banded.select(col("band"), col("band_sig"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("band_sig"), col("id").as("id_b")),
        Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha"),
        col("nsh").as("nsh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb"),
        col("nsh").as("nsh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
  }

  test("nearDupPairs equals the string-verified reference at 16 and 32 bands") {
    val docs = corpus
    for (bands <- Seq(16, 32)) {
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = rows(MinHashLsh.nearDupPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = bands, threshold = 0.5))
      val want = rows(stringPairs(docs, bands))
      assert(got == want, s"bands=$bands: ${got -- want} / ${want -- got}")
      assert(got.exists(_._3 < 1.0) && got.exists(_._3 == 1.0), s"bands=$bands")
    }
  }
}
