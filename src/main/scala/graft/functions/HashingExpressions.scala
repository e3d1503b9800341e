package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native hashing kernels for the dedup operators.
  *
  * The naive formulation (`transform(seq, i -> array_min(transform(sh,
  * s -> xxhash64(s, i))))`) evaluates interpreted higher-order lambdas
  * and re-hashes every string `numHashes` times — O(k·|sh|) string
  * hashes per row. These expressions hash each element ONCE (XXH64, the
  * same kernel as Spark's `xxhash64`) and derive the k hash family
  * members by multiply-add mixing with SplitMix64 constants — O(|sh|)
  * string hashes + O(k·|sh|) long arithmetic in a tight Java loop.
  */
private[graft] object HashMix {
  /** SplitMix64 — generates the per-position mixing constants. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def constants(k: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k); val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = splitmix64(2L * i) | 1L // odd multiplier
      b(i) = splitmix64(2L * i + 1)
      i += 1
    }
    (a, b)
  }

  def hashUtf8(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  /** SQL-portable 61-bit string hash: two polynomial folds over the
    * Unicode codepoints (mod two ~2^30 primes), each finished with two
    * xorshift-multiply rounds (a raw polynomial fold leaves short
    * strings clustered in the low bits — the finalizer spreads them so
    * per-bit balance holds), packed `h1 * 2^31 + h2`. Every intermediate
    * stays < 2^62, so overflow-checked engines (DuckDB BIGINT)
    * reproduce it exactly; the zero-seeded fold is emulated in DuckDB
    * 1.0 (whose `list_reduce` has no init argument) by prepending 0:
    *
    * {{{
    * r = list_reduce([0::BIGINT] || list_transform(string_split(t, ''),
    *                 c -> ascii(c)::BIGINT),
    *                 (a, x) -> (a * 31 + x) % 1000000007)
    * r = (xor(r, r >> 16) * 73244475) % 1000000007   -- twice
    * h1 = xor(r, r >> 16)
    * -- h2 likewise with (131, 2654435761, 998244353)
    * h = h1 * 2147483648 + h2
    * }}}
    *
    * Weaker avalanche than XXH64 (keep xxhash for pure-engine paths like
    * MinHash); use this where an external SQL oracle must recompute the
    * same fingerprints (SimHash near-dup verification). */
  def portableHash61(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31 + cp) % 1000000007L
      h2 = (h2 * 131 + cp) % 998244353L
      i += Character.charCount(cp)
    }
    h1 = ((h1 ^ (h1 >>> 16)) * 73244475L) % 1000000007L
    h1 = ((h1 ^ (h1 >>> 16)) * 73244475L) % 1000000007L
    h1 ^= h1 >>> 16
    h2 = ((h2 ^ (h2 >>> 16)) * 2654435761L) % 998244353L
    h2 = ((h2 ^ (h2 >>> 16)) * 2654435761L) % 998244353L
    h2 ^= h2 >>> 16
    (h1 << 31) + h2
  }
}

/** ngram_shingles(text, n) -> array<string>: the DISTINCT word n-gram
  * shingles of a whitespace-tokenized document, in one pass (split +
  * n-gram build + dedup in tight Java; the `transform`/`concat_ws`
  * higher-order formulation evaluates interpreted lambdas per shingle).
  * Fewer than n tokens → null. */
case class NgramShingles(child: Expression, n: Int)
    extends KernelExpression {
  require(n >= 1)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_shingles"
  // returns null for sub-threshold/empty inputs even when the
  // child is non-nullable
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(NgramShingles, "compute", n)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NgramShingles {
  private val space = UTF8String.fromString(" ")

  /** The kernel; public so generated code can call it. */
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val toks = text.split(space, -1)
    if (toks.length < n) return null
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= toks.length - n) {
      // concat tokens i..i+n-1 with single spaces
      var j = 1
      var sh = toks(i)
      while (j < n) {
        sh = UTF8String.concat(sh, space, toks(i + j))
        j += 1
      }
      seen.add(sh)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}

/** shingle_hashes(text, n) -> array<bigint>: the XXH64 (seed 42) of
  * each distinct [[NgramShingles]] shingle, in its first-occurrence
  * order — `transform(ngram_shingles(text, n), s -> xxhash64(s))`
  * without building a string. Tokens split on the byte 0x20 with empty
  * tokens kept (`NgramShingles`' `split(" ", -1)`), so the shingle of
  * tokens i..i+n-1 is the byte range from token i's start to token
  * i+n-1's end, hashed in place. Distinct by hash: two distinct
  * shingles of one text that collide in 64 bits count once.
  * Fewer than n tokens → null. */
case class ShingleHashes(child: Expression, n: Int)
    extends KernelExpression {
  require(n >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  // returns null for sub-threshold inputs even when the child is
  // non-nullable
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ShingleHashes, "compute", n)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ShingleHashes {

  /** The kernel; public so generated code can call it. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var spaces = 0
    var p = 0
    while (p < len) {
      if (Platform.getByte(base, off + p) == ' ') spaces += 1
      p += 1
    }
    val tokens = spaces + 1
    if (tokens < n) return null
    // token t is the byte range [cut(t) + 1, cut(t + 1))
    val cut = new Array[Int](tokens + 1)
    cut(0) = -1
    cut(tokens) = len
    var t = 1
    p = 0
    while (t < tokens) {
      if (Platform.getByte(base, off + p) == ' ') { cut(t) = p; t += 1 }
      p += 1
    }
    val shingles = tokens - n + 1
    // distinct hashes, first occurrence first: an open-addressing set
    // over primitive longs at load ≤ 1/2
    val mask = Integer.highestOneBit(shingles * 2) * 2 - 1
    val slots = new Array[Long](mask + 1)
    val used = new Array[Boolean](mask + 1)
    val out = new Array[Long](shingles)
    var m = 0
    var i = 0
    while (i < shingles) {
      val from = cut(i) + 1
      val h = XXH64.hashUnsafeBytes(base, off + from, cut(i + n) - from, 42L)
      var s = (h ^ (h >>> 32)).toInt & mask
      while (used(s) && slots(s) != h) s = (s + 1) & mask
      if (!used(s)) {
        used(s) = true
        slots(s) = h
        out(m) = h
        m += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == shingles) out else java.util.Arrays.copyOf(out, m))
  }
}

/** hash_embed(text, dim) -> array<float>: L2-normalized hashed
  * bag-of-words embedding (HashingTF-style) — token t increments slot
  * `xxhash64(t) mod dim`. One pass, tight loop; model-free stand-in
  * for the out-of-engine encode step (SURVEY S6). */
case class HashEmbed(child: Expression, dim: Int)
    extends KernelExpression {
  require(dim > 0)

  override def dataType: DataType =
    ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "hash_embed"
  override def kernel: Kernel = Kernel(HashEmbed, "embed", dim)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HashEmbed {
  private val space = UTF8String.fromString(" ")

  /** The kernel; public so generated code can call it. */
  def embed(text: UTF8String, dim: Int): GenericArrayData =
    new GenericArrayData(compute(text, dim))

  /** The embedding, exposed so the driver-side / mapPartitions
    * text-encoder seam ([[graft.TextEncoder]]) computes bit-identical
    * embeddings. */
  def compute(text: UTF8String, dim: Int): Array[Float] = {
    val toks = text.split(space, -1)
    val acc = new Array[Double](dim)
    var i = 0
    while (i < toks.length) {
      val slot = java.lang.Math.floorMod(HashMix.hashUtf8(toks(i)), dim.toLong)
      acc(slot.toInt) += 1.0
      i += 1
    }
    var ss = 0.0
    var j = 0
    while (j < dim) { ss += acc(j) * acc(j); j += 1 }
    val norm = if (ss > 0) math.sqrt(ss) else 1.0
    val out = new Array[Float](dim)
    j = 0
    while (j < dim) { out(j) = (acc(j) / norm).toFloat; j += 1 }
    out
  }
}

/** The k-member MinHash family of [[MinHashSignature]]: its per-member
  * mixing constants, derived once per (deserialized) expression. */
final case class MinHashFamily(numHashes: Int) {
  @transient private lazy val constants = HashMix.constants(numHashes)

  /** The signature of a shingle array — strings when `hashed` is 0,
    * their XXH64 hashes when 1; null for an empty array. */
  def signature(arr: ArrayData, hashed: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val (consA, consB) = constants
    val k = numHashes
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h =
          if (hashed == 1) arr.getLong(i)
          else HashMix.hashUtf8(arr.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = h * consA(j) + consB(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** minhash_signature(shingles, k) -> array<bigint>: the k-position
  * MinHash signature of an `array<string>` of shingles, or of their
  * XXH64 hashes as an `array<bigint>` ([[ShingleHashes]]) — the same
  * signature either way. Null elements are skipped; an empty/null
  * array yields null. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends KernelExpression {
  require(numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  // returns null for sub-threshold/empty inputs even when the
  // child is non-nullable
  override def nullable: Boolean = true
  override def inputTypes: Seq[Seq[DataType]] =
    Seq(Seq(ArrayType(StringType), ArrayType(LongType)))

  @transient private lazy val family = MinHashFamily(numHashes)
  override def kernel: Kernel = Kernel(family, "signature",
    child.dataType match {
      case ArrayType(LongType, _) => 1
      case _ => 0
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** band_keys(sig array<bigint>, bands) -> array<bigint>: one 64-bit key
  * per LSH band of a MinHash signature. With r = size(sig) div bands,
  * key b folds `h = XXH64.hashLong(sig[j], h)` from h = 42 over
  * j ∈ [b·r, b·r + r) — bit-identical to Spark's
  * `xxhash64(slice(sig, b * r + 1, r))`, without the interpreted
  * `transform(sequence(…))` lambda. Null elements are skipped, as
  * `xxhash64` skips them. */
case class BandKeys(child: Expression, bands: Int) extends KernelExpression {
  require(bands >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys"
  override def inputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(LongType)))
  override def kernel: Kernel = Kernel(BandKeys, "compute", bands)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BandKeys {

  /** The kernel; public so generated code can call it. */
  def compute(sig: ArrayData, bands: Int): ArrayData = {
    val r = sig.numElements() / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var j = b * r
      val end = j + r
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      keys(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}

/** simhash64(tokens array<string>) -> bigint: Charikar fingerprint —
  * bit i of the result is the sign of Σ_tokens (±1 per token's hash
  * bit i). Empty/null arrays yield null.
  *
  * Token hashes are [[HashMix.portableHash61]] (61 effective bits; bits
  * 61-63 are always 0) so an external SQL oracle can recompute identical
  * fingerprints and brute-force-verify the pigeonhole pair search. */
case class SimHash64(child: Expression) extends KernelExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  // returns null for sub-threshold/empty inputs even when the
  // child is non-nullable
  override def nullable: Boolean = true
  override def inputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))
  override def kernel: Kernel = Kernel(SimHash64, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SimHash64 {
  /** The kernel; boxed so an empty array yields null. Public so
    * generated code can call it. */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = HashMix.portableHash61(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var result = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) result |= (1L << j)
      j += 1
    }
    result
  }
}

/** fingerprint(text) -> bigint: deterministic polynomial rolling hash of
  * the whole document — left fold `(acc * 31 + codepoint) mod 1e9+7`
  * seeded with the first codepoint (the DuckDB `list_reduce` fold shape,
  * bit-for-bit oracle-matchable). Empty string yields -1.
  *
  * Replaces the interpreted `aggregate(split(text, ''), ...)` HOF
  * formulation (per-character lambda invocations) with one tight loop
  * that stays inside whole-stage codegen via a static call. */
case class Fingerprint(child: Expression) extends KernelExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint"
  override def kernel: Kernel = Kernel(Fingerprint, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Fingerprint {
  /** The fold kernel; public so generated code can call it. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    if (str.isEmpty) return -1L
    var acc = str.codePointAt(0).toLong
    var i = Character.charCount(str.codePointAt(0))
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}
