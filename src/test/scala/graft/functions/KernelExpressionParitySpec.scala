package graft.functions

import java.io.File
import java.lang.reflect.Modifier

import scala.util.{Failure, Success, Try}

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every function built on [[KernelExpression]] / [[BinaryKernelExpression]]
  * evaluates to the same rows interpreted and generated, generates the
  * direct kernel call (static for an object owner, through a reference
  * object for a model instance), and keeps its `requires …` type-check
  * message.
  *
  * The set is discovered from the compiled `graft.functions` package, so
  * a new kernel function is covered without editing this table; only a
  * function with literal `Int` arguments or a model needs an entry in
  * `withArgs`. */
class KernelExpressionParitySpec extends SparkTestBase {

  // small model fixtures over the dim-4 vector samples
  private val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 1f, 0f),
    Array(0f, 0f, 0f, 0f), Array(-1f, 0f, 0f, 1f))
  private val pqBooks = Array(
    Array(Array(0f, 0f), Array(1f, 2f), Array(-1f, 1f)),
    Array(Array(3f, 4f), Array(0f, 0f), Array(1f, -1f)))
  private val sq8 = Sq8Model(Array(-1.0, 0.0, 0.0, 0.0), Array(0.01, 0.02, 0.0, 0.05))

  /** Builders for the functions whose constructors take literal args or
    * a model. */
  private val withArgs: Map[Class[_], Seq[Expression] => Expression] = Map(
    classOf[CdcChunks] -> (es => CdcChunks(es(0), 64, 256, 1024)),
    classOf[HashedNgramBuckets] -> (es => HashedNgramBuckets(es(0), 1024)),
    classOf[ImageResize] -> (es => ImageResize(es(0), 4, 3)),
    classOf[MediaFeatures] -> (es => MediaFeatures(es(0), 16)),
    classOf[PngHistogram] -> (es => PngHistogram(es(0), 8)),
    classOf[WavWindows] -> (es => WavWindows(es(0), 64)),
    classOf[WavSpectral] -> (es => WavSpectral(es(0), 64)),
    classOf[WavSpectralFlux] -> (es => WavSpectralFlux(es(0), 64)),
    classOf[WavResample] -> (es => WavResample(es(0), 8000)),
    classOf[WavNormalize] -> (es => WavNormalize(es(0), 16000)),
    classOf[WavVad] -> (es => WavVad(es(0), 64, 100)),
    classOf[WinnowFp] -> (es => WinnowFp(es(0), 5, 4)),
    classOf[TokenWindowPairs] -> (es => TokenWindowPairs(es(0), 2)),
    classOf[RiContrib] -> (es => RiContrib(es(0), es(1), 8)),
    classOf[NgramShingles] -> (es => NgramShingles(es(0), 2)),
    classOf[MinHashSignature] -> (es => MinHashSignature(es(0), 8)),
    classOf[ShingleHashes] -> (es => ShingleHashes(es(0), 2)),
    classOf[BandKeys] -> (es => BandKeys(es(0), 2)),
    classOf[HashEmbed] -> (es => HashEmbed(es(0), 8)),
    classOf[EditSegments] -> (es => EditSegments(es(0), 2)),
    classOf[EditProbes] -> (es => EditProbes(es(0), 1)),
    classOf[ShingleHits] -> (es =>
      ShingleHits(es(0), ShingleSetRef(Seq("hello world.", "a b"), 2))),
    classOf[Bm25Score] -> (es => Bm25Score(es(0),
      Bm25QueryModel(Seq("hello", "one"), Seq(1.5, 0.25), 4.0))),
    classOf[DsirLogWeight] -> (es =>
      DsirLogWeight(es(0), DsirModelRef(Array(0.5, -1.0, 2.0)))),
    classOf[GateSignals] -> (es =>
      GateSignals(es(0), GateSignalsKernel(Seq("a", "the")))),
    classOf[UnigramBits] -> (es => UnigramBits(es(0),
      UnigramModelRef(Seq("hello" -> 3L, "a" -> 2L), 10.0, 4.0, 1.0))),
    classOf[BigramBits] -> (es => BigramBits(es(0), BigramModelRef(
      Seq("hello" -> 3L), Seq(("hello", "world.") -> 2L), 10.0, 4.0, 1.0))),
    classOf[NbLogOdds] -> (es => NbLogOdds(es(0),
      NbModelRef(Seq(("hello", 3L, 1L)), 10.0, 8.0, 4.0, 0.5, 1.0))),
    classOf[WordVecEmbed] -> (es => WordVecEmbed(es(0), WordVecModelRef(
      Seq("hello" -> Array(1f, 2f), "one" -> Array(-1f, 0.5f))))),
    classOf[BpeEncode] -> (es =>
      BpeEncode(es(0), Array(("h", "e"), ("l", "l"), ("he", "ll")))),
    classOf[Sq8Encode] -> (es => Sq8Encode(es(0), sq8)),
    classOf[Sq8Cosine] -> (es =>
      Sq8Cosine(es(0), sq8, Array(1.0, -2.0, 0.5, 3.0))),
    classOf[NearestCentroid] -> (es => NearestCentroid(es(0), centroids)),
    classOf[CentroidCosine] -> (es => CentroidCosine(es(0), centroids)),
    classOf[PqEncode] -> (es => PqEncode(es(0), pqBooks)))

  /** Functions whose type check keeps a message of its own. */
  private val bespokeCheck: Map[Class[_], String] = Map(classOf[ZValue] ->
    "z_value requires integral inputs, got (BooleanType,BooleanType)")

  /** Concrete kernel-call classes in the compiled package. */
  private lazy val kernelClasses: Seq[Class[_]] = {
    val dir = new File(classOf[KernelExpression].getProtectionDomain
      .getCodeSource.getLocation.toURI).toPath.resolve("graft/functions").toFile
    dir.listFiles.toSeq.map(_.getName)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName("graft.functions." + n.stripSuffix(".class")))
      .filter(c => classOf[KernelCall].isAssignableFrom(c) &&
        !Modifier.isAbstract(c.getModifiers))
      .sortBy(_.getName)
  }

  private def build(c: Class[_], children: Seq[Expression]): KernelCall =
    withArgs.get(c) match {
      case Some(b) => b(children).asInstanceOf[KernelCall]
      case None =>
        val ctor = c.getConstructors.find(_.getParameterCount == children.size)
          .getOrElse(fail(s"${c.getSimpleName}: no ${children.size}-child " +
            "constructor; add it to withArgs"))
        ctor.newInstance(children: _*).asInstanceOf[KernelCall]
    }

  /** The arity of a class: 2 for the two-input twin, 1 otherwise. */
  private def arity(c: Class[_]): Int =
    if (classOf[BinaryKernelExpression].isAssignableFrom(c)) 2 else 1

  private def refs(types: Seq[DataType], nullable: Boolean): Seq[Expression] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable) }

  private def placeholder(c: Class[_]): KernelCall =
    build(c, Seq.fill(arity(c))(BoundReference(0, NullType, nullable = true)))

  /** Every input-type combination a class accepts. */
  private def typings(c: Class[_]): Seq[Seq[DataType]] =
    placeholder(c).inputTypes.foldLeft(Seq(Seq.empty[DataType]))(
      (acc, ts) => for (a <- acc; t <- ts) yield a :+ t)

  /** Every id-keyed fixture function's output of type `t` at id 1. */
  private def fixtures(t: DataType): Seq[Any] =
    kernelClasses.map(placeholder)
      .filter(e => e.inputTypes == Seq(Seq(LongType)) && e.dataType == t)
      .flatMap { e =>
        val f = build(e.getClass, refs(Seq(LongType), nullable = false))
        Option(f.eval(InternalRow(1L)))
      }

  private val ids: Seq[Any] = Seq(0L, 1L, 7L)

  // the last one is past z_value's 21-bit domain
  private val ints: Seq[Any] = Seq(0, 3, -1, 1 << 21)

  /** Short strings (the last two are entry names of the id-1 tar and
    * zip fixtures) and every string fixture. */
  private lazy val strings: Seq[Any] = Seq("", "hello world. A second one!",
    "HTTP://Example.COM:80/a/../b?q=1#frag", "<p>caf&eacute; &amp; x</p>",
    "User-agent: *\nDisallow: /private\n", "/private/x", "cafÃ©",
    "f_1_0.txt", "doc_1_0.txt").map(UTF8String.fromString) ++
    fixtures(StringType)

  private val tokenArrays: Seq[Any] = Seq(Seq("a", "b", "c", "d"), Seq.empty)
    .map(ts => new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any]))

  // shingle hashes or a signature, with a repeat, and an empty one
  private val longArrays: Seq[Any] = Seq(Seq(1L, -5L, 7L, 1L, Long.MaxValue),
    Seq.empty[Long]).map(xs => new GenericArrayData(xs.toArray[Any]))

  /** Dim-4 vectors (a zero vector among them), a dim-3 mismatch and an
    * empty one. */
  private val vectors: Seq[Seq[Double]] = Seq(Seq(1, 2, 3, 4),
    Seq(0, 0, 0, 0), Seq(-1, 0.5, 2, 0), Seq(1, 2, 3), Seq.empty)
  private val floatVectors: Seq[Any] =
    vectors.map(v => new GenericArrayData(v.map(_.toFloat).toArray[Any]))
  private val doubleVectors: Seq[Any] =
    vectors.map(v => new GenericArrayData(v.toArray[Any]))

  // a well-formed bloom filter (m = 64, k = 3) and a dim-4 SQ8 code
  private val bloom = Array[Byte](0, 0, 0, 64, 0, 0, 0, 3) ++
    Array.fill[Byte](8)(0x5a)
  private val sq8Code = Array[Byte](0, 10, -1, 7)

  /** Binary samples: garbage, every fixture's bytes, and one round of
    * every bytes-to-bytes function over them (gunzip, unzstd, the audio
    * decoders), so each decoder sees its own format among all others. */
  private lazy val blobs: Seq[Any] = {
    val base = Seq(Array.emptyByteArray, Array[Byte](1, 2, 3), bloom,
      sq8Code) ++
      fixtures(BinaryType).map(_.asInstanceOf[Array[Byte]]) ++
      fixtures(StringType).map(_.toString.getBytes("UTF-8"))
    val decoded = kernelClasses.map(placeholder)
      .filter(e => e.inputTypes == Seq(Seq(BinaryType)) &&
        e.dataType == BinaryType)
      .flatMap { e =>
        val f = build(e.getClass, refs(Seq(BinaryType), nullable = false))
        base.flatMap(b =>
          Try(f.eval(InternalRow(b))).toOption.flatMap(Option(_)))
      }.map(_.asInstanceOf[Array[Byte]])
    (base ++ decoded).distinctBy(b => java.nio.ByteBuffer.wrap(b))
  }

  private def samples(t: DataType): Seq[Any] = t match {
    case LongType => ids
    case IntegerType => ints
    case StringType => strings
    case BinaryType => blobs
    case ArrayType(StringType, _) => tokenArrays
    case ArrayType(LongType, _) => longArrays
    case ArrayType(FloatType, _) => floatVectors
    case ArrayType(DoubleType, _) => doubleVectors
    case other => fail(s"no samples for $other")
  }

  private def outcome(f: => InternalRow): Try[Any] = Try(f.copy())

  test("the discovered set is every single-kernel function") {
    assert(kernelClasses.size == 158,
      kernelClasses.map(_.getSimpleName).mkString(", "))
  }

  test("interpreted and generated projections give equal rows") {
    for (c <- kernelClasses; types <- typings(c)) {
      val rows = types.map(t => null +: samples(t))
        .foldLeft(Seq(Seq.empty[Any]))((acc, xs) =>
          for (a <- acc; x <- xs) yield a :+ x)
      for (nullable <- Seq(true, false)) {
        val e = build(c, refs(types, nullable))
        val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
        val gen = GenerateUnsafeProjection.generate(Seq(e))
        for (r <- rows if nullable || !r.contains(null)) {
          val in = InternalRow.fromSeq(r)
          val (a, b) = (outcome(interp(in)), outcome(gen(in)))
          val same = (a, b) match {
            case (Success(x), Success(y)) => x == y
            case (Failure(x), Failure(y)) =>
              x.getClass == y.getClass && x.getMessage == y.getMessage
            case _ => false
          }
          assert(same, s"${e.prettyName} nullable=$nullable on $r: $a vs $b")
        }
      }
    }
  }

  private def generated(c: Class[_]): (KernelCall, String) = {
    val e = build(c, refs(typings(c).head, nullable = true))
    (e, e.genCode(new CodegenContext).code.toString)
  }

  /** Whether a class's kernel owner is a Scala object. */
  private def objectOwned(c: Class[_]): Boolean = {
    val owner = placeholder(c).kernel.owner
    Try(owner.getClass.getField("MODULE$").get(null)).toOption
      .exists(_ eq owner)
  }

  test("generated code is the static kernel call") {
    for (c <- kernelClasses if objectOwned(c)) {
      val (e, code) = generated(c)
      val k = e.kernel
      val call = s"${k.owner.getClass.getName}.MODULE$$.${k.method}("
      assert(code.contains(call), s"${e.prettyName}: $code")
    }
  }

  test("a model-instance kernel is called through its reference object") {
    val instanceOwned = kernelClasses.filterNot(objectOwned)
    assert(instanceOwned.size == 15,
      instanceOwned.map(_.getSimpleName).mkString(", "))
    for (c <- instanceOwned) {
      val (e, code) = generated(c)
      val k = e.kernel
      val ref = s"((${k.owner.getClass.getName}) references["
      assert(code.contains(ref) && code.contains(s" */).${k.method}("),
        s"${e.prettyName}: $code")
    }
  }

  test("a wrong-typed input keeps the `requires …` message") {
    val messages = kernelClasses.map { c =>
      val e = build(c, refs(Seq.fill(arity(c))(BooleanType), nullable = true))
      val want = e.inputTypes.map(_.map(_.simpleString).mkString(" or "))
        .mkString(", ")
      val expected = bespokeCheck.getOrElse(c,
        if (arity(c) == 1) s"${e.prettyName} requires $want, got boolean"
        else s"${e.prettyName} requires ($want), got boolean, boolean")
      val got = e.checkInputDataTypes()
      assert(got == TypeCheckFailure(expected))
      expected
    }
    // the exact wording, pinned once per input-type spelling
    for (m <- Seq("parse_media requires binary, got boolean",
        "mp3_media_for_id requires bigint, got boolean",
        "html_text requires string, got boolean",
        "token_window_pairs requires array<string>, got boolean",
        "robots_allowed requires (string, string), got boolean, boolean",
        "tar_extract requires (binary, string), got boolean, boolean",
        "nearest_centroid requires array<float> or array<double>, got boolean",
        "pack_vector requires array<float>, got boolean",
        "bloom_contains requires (binary, bigint), got boolean, boolean",
        "z_value requires integral inputs, got (BooleanType,BooleanType)"))
      assert(messages.contains(m), m)
  }
}
