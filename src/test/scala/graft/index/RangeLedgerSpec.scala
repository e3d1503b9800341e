package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.operators.{Bm25Index, HyperplaneLsh, Ivf, ShingleIndex,
  WinnowIndex}

/** The `_ranges` docid-claim ledger ([[RangeLedger]]) over all five
  * families from one table: a build claims exactly its [lo, hi], an
  * append adds its own, the keyword families refuse an overlapping
  * append without touching the ledger or `_stats`, the vector
  * families record one unguarded, and a claim with no postings shows
  * up in `missingRanges` where a family exposes it. */
class RangeLedgerSpec extends SparkTestBase {
  import spark.implicits._

  /** 40 docs with both a text and an 8-dim vector, ids 0..39. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(17)
    (0 until 40).map { i =>
      val text = (0 until 12)
        .map(j => s"w${(i * 7919 + j * 104729) % 61}").mkString(" ")
      (i.toLong, text, Array.tabulate(8)(d =>
        (if (d == i % 3 * 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f))
    }.toDF("doc_id", "text", "embedding")
  }

  private lazy val ivfModel =
    Ivf.train(docs, "embedding", k = 3, sampleSize = 200)
  private val lsh = HyperplaneLsh(dim = 8, nbits = 3, seed = 5L)

  private def ids(lo: Long, hi: Long): DataFrame =
    docs.filter($"doc_id" >= lo && $"doc_id" < hi)

  private def statsRows(path: String): Set[String] =
    if (!new Path(path, "_stats")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(path, "_stats"))) Set.empty
    else spark.read.parquet(s"$path/_stats").collect().map(_.toString).toSet

  /** One family: build, append, whether appends are overlap-guarded,
    * and its claim-only footprint scan when it has one. */
  private final case class Fam[I](
      name: String,
      build: (DataFrame, String) => I,
      append: (I, DataFrame) => I,
      guarded: Boolean,
      missing: Option[I => Seq[(Long, Long)]])

  private def family[I](f: Fam[I]): Unit =
    test(s"${f.name}: the ledger holds each build and append claim; an " +
      (if (f.guarded) "overlapping append is refused with ledger and " +
        "_stats unchanged" else "overlapping append is recorded unguarded")) {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-ranges-${f.name}").toString
      val built = f.build(ids(0, 20), path)
      assert(RangeLedger.read(spark, path) == Seq((0L, 19L)))
      val grown = f.append(built, ids(20, 30))
      assert(RangeLedger.read(spark, path).toSet ==
        Set((0L, 19L), (20L, 29L)))
      val stats = statsRows(path)
      if (f.guarded) {
        val e = intercept[IllegalArgumentException] {
          f.append(grown, ids(25, 35))
        }
        assert(e.getMessage.contains("[25,34]"), e.getMessage)
        assert(RangeLedger.read(spark, path).toSet ==
          Set((0L, 19L), (20L, 29L)))
        assert(statsRows(path) == stats)
      } else {
        f.append(grown, ids(25, 35))
        assert(RangeLedger.read(spark, path).toSet ==
          Set((0L, 19L), (20L, 29L), (25L, 34L)))
      }
      f.missing.foreach { scan =>
        assert(scan(grown).isEmpty)
        // the claim-first window: a claim landed, its postings never did
        RangeLedger.record(spark, path, (100L, 105L))
        assert(scan(grown) == Seq((100L, 105L)))
      }
    }

  family(Fam[Bm25Index]("bm25",
    (d, p) => Bm25Index.build(d, "text", "doc_id", p, nBuckets = 8),
    (i, d) => i.append(d, "text", "doc_id"),
    guarded = true, Some(_.missingRanges())))
  family(Fam[ShingleIndex]("shingle",
    (d, p) => ShingleIndex.build(d, "doc_id", "text", p, ngram = 3,
      nBuckets = 8),
    (i, d) => i.appendBatch(d, "doc_id", "text"),
    guarded = true, Some(_.missingRanges())))
  family(Fam[WinnowIndex]("winnow",
    (d, p) => WinnowIndex.build(d, "doc_id", "text", p, k = 4, w = 5,
      nBuckets = 8),
    (i, d) => i.appendBatch(d, "doc_id", "text"),
    guarded = true, None))
  family(Fam[IvfVectorIndex]("ivf",
    (d, p) => IvfVectorIndex.build(d, "embedding", "doc_id", p, ivfModel),
    (i, d) => i.append(d, "embedding", "doc_id"),
    guarded = false, None))
  family(Fam[LshVectorIndex]("lsh",
    (d, p) => LshVectorIndex.build(d, "embedding", "doc_id", p, lsh),
    (i, d) => i.append(d, "embedding", "doc_id"),
    guarded = false, None))
}
