package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** Aho-Corasick blocklist matcher: equivalence with brute force over
  * random corpora, the fail-link cases a naive trie walk misses, the
  * foldable-literal contract, and `contains_any` interpreted vs
  * generated. */
class MultiMatchSpec extends SparkTestBase {

  test("fail-link cases: a pattern hidden inside another's prefix, " +
    "suffix overlaps, single chars, and matches spanning resets") {
    val ac = new AhoCorasick(Seq("he", "she", "his", "hers"))
    assert(ac.containsAny("ushers"))   // 'she' via fail transitions
    assert(ac.containsAny("this"))     // 'his'
    assert(!ac.containsAny("hi there".replace("he", "hx")))
    assert(ac.containsAny("xhex"))
    // a pattern that is a proper suffix of another must fire through
    // the output propagation along fail links
    val ac2 = new AhoCorasick(Seq("abcde", "cde"))
    assert(ac2.containsAny("xxcdexx"))
    assert(ac2.containsAny("ababcde"))
    val ac3 = new AhoCorasick(Seq("aa"))
    assert(ac3.containsAny("aXaa"))    // overlapping restarts
    assert(!ac3.containsAny("aXaXa"))
  }

  test("equivalent to brute-force substring search over random " +
    "corpora and pattern sets") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abc"
    def randStr(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 30) {
      val pats = (0 until 1 + rnd.nextInt(6))
        .map(_ => randStr(1 + rnd.nextInt(4))).distinct
      val ac = new AhoCorasick(pats)
      for (_ <- 0 until 20) {
        val text = randStr(rnd.nextInt(30))
        val expect = pats.exists(text.contains(_))
        assert(ac.containsAny(text) == expect,
          s"pats=$pats text=$text")
      }
    }
  }

  test("the SQL surface: literal list required, matches agree with " +
    "per-pattern contains") {
    graft.Graft.init(spark)
    val rows = spark.sql(
      """SELECT v, contains_any(v, array('spark', 'ab cd')) AS hit
        |FROM VALUES ('a spark flies'), ('ab cde'), ('nothing here'),
        |  ('sparing no sparks') AS t(v)""".stripMargin).collect()
    val expect = Map("a spark flies" -> true, "ab cde" -> true,
      "nothing here" -> false, "sparing no sparks" -> true)
    rows.foreach(r => assert(r.getBoolean(1) == expect(r.getString(0))))
    // a non-literal pattern array is rejected at analysis
    intercept[Exception] {
      spark.sql("SELECT contains_any(v, array(v)) FROM VALUES ('x') t(v)")
        .collect()
    }
  }

  test("contains_any: interpreted eval and generated code give the same " +
    "rows over null, empty, overlapping and multi-byte UTF-8 text") {
    val pats = Seq("he", "she", "hers", "東京", "京都", "🙂", "é", "aa")
    val texts = Seq(null, "", "ushers", "hi", "東京都", "京都", "東 京",
      "smile 🙂", "日本語テキスト", "café", "cafe", "aXaa", "aXa", "ελλάδα")
    for (nullable <- Seq(true, false)) {
      val e = ContainsAny(BoundReference(0, StringType, nullable),
        Literal.create(pats, ArrayType(StringType)))
      val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      for (t <- texts if nullable || t != null) {
        val in = InternalRow(if (t == null) null else UTF8String.fromString(t))
        val (a, b) = (interp(in).copy(), gen(in).copy())
        assert(a == b, s"nullable=$nullable on '$t'")
        if (t == null) assert(a.isNullAt(0))
        else assert(a.getBoolean(0) == pats.exists(t.contains(_)), s"'$t'")
      }
    }
  }
}
