package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.operators.{Bm25Index, HyperplaneLsh, IndexMerge, Ivf, ShingleIndex, WinnowIndex}

/** The shared index lifecycle ([[ManifestIndex]] + one
  * [[Manifests.completeMerge]]) run over all five manifest-partitioned
  * families with one table: each crash footprint is planted by hand in
  * the on-disk format, and the roll-forward must land every family on
  * the rows (and `_stats`) of an index built whole. */
class IndexLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  /** 40 docs with both a text and an 8-dim vector, ids 0..39. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(11)
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

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lifecycle-$tag")
      .toString

  private lazy val fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** The snapshot's rows, through the manifest (the raw tree's `gen`
    * column differs between a merged index and a whole one). */
  private def rows(path: String): Set[String] =
    Manifests.dataFrame(spark, path, Manifests.require(spark, path))
      .collect().map(_.toString).toSet

  private def statsRows(path: String): Option[Set[String]] =
    if (!exists(s"$path/_stats")) None
    else Some(spark.read.parquet(s"$path/_stats").collect()
      .map(_.toString).toSet)

  /** One family: how to build and load it, and the stats row a merge
    * marker carries for the union of some handles. */
  private final case class Fam[I <: ManifestIndex[I]](
      name: String,
      build: (DataFrame, String) => I,
      load: String => I,
      markerStats: Seq[I] => Seq[Long])

  /** Plant "claims landed, marker written, the first source's
    * generations moved, no commit" for a merge of `srcs` into `dst`. */
  private def plantCrash(dst: String, srcs: Seq[String],
      stats: Seq[Long]): Unit = {
    IndexMerge.claimRangesAll(spark, dst, srcs)
    IndexMerge.writeMarker(fs, new Path(dst), IndexMerge.joinSrcs(srcs),
      stats)
    Manifests.moveGenerations(spark, srcs.head, dst)
    ()
  }

  private def assertLikeWhole(dst: String, whole: String,
      gone: Seq[String]): Unit = {
    assert(rows(dst) == rows(whole), "rows differ from the whole build")
    assert(statsRows(dst) == statsRows(whole),
      "stats differ from the whole build")
    gone.foreach(s => assert(!exists(s), s"source $s not drained"))
    assert(!exists(s"$dst/_merge_pending"), "marker left behind")
  }

  private def family[I <: ManifestIndex[I]](f: Fam[I]): Unit = {
    test(s"${f.name}: a crash after the marker with one source's " +
      "generations moved and no commit rolls forward at load") {
      val root = scratch(s"${f.name}-crash")
      val whole = f.build(docs, s"$root/whole")
      val a = f.build(ids(0, 16), s"$root/a")
      val b = f.build(ids(16, 28), s"$root/b")
      val c = f.build(ids(28, 40), s"$root/c")
      plantCrash(s"$root/a", Seq(s"$root/b", s"$root/c"),
        f.markerStats(Seq(a, b, c)))
      val loaded = f.load(s"$root/a")
      assertLikeWhole(s"$root/a", s"$root/whole",
        Seq(s"$root/b", s"$root/c"))
      assert(f.markerStats(Seq(loaded)) == f.markerStats(Seq(whole)))
    }

    test(s"${f.name}: a stale handle's merge settles an older " +
      "interrupted merge first and counts it") {
      val root = scratch(s"${f.name}-stale")
      val whole = f.build(docs, s"$root/whole")
      val dst = f.build(ids(0, 10), s"$root/dst")
      val a = f.build(ids(10, 25), s"$root/a")
      f.build(ids(25, 40), s"$root/b")
      plantCrash(s"$root/dst", Seq(s"$root/a"),
        f.markerStats(Seq(dst, a)))
      val merged = dst.mergeAll(Seq(f.load(s"$root/b")))
      assertLikeWhole(s"$root/dst", s"$root/whole",
        Seq(s"$root/a", s"$root/b", s"$root/b${IndexMerge.OwnedSuffix}"))
      assert(f.markerStats(Seq(merged)) == f.markerStats(Seq(whole)))
    }

    test(s"${f.name}: compact settles a pending merge before it " +
      "rewrites the snapshot") {
      val root = scratch(s"${f.name}-compact")
      f.build(docs, s"$root/whole")
      val a = f.build(ids(0, 20), s"$root/a")
      val b = f.build(ids(20, 40), s"$root/b")
      plantCrash(s"$root/a", Seq(s"$root/b"), f.markerStats(Seq(a, b)))
      val compacted = a.compact()
      assertLikeWhole(s"$root/a", s"$root/whole", Seq(s"$root/b"))
      assert(!compacted.shouldCompact())
    }
  }

  family(Fam[Bm25Index]("bm25",
    (d, p) => Bm25Index.build(d, "text", "doc_id", p, nBuckets = 8),
    Bm25Index.load(spark, _),
    hs => Seq(hs.map(_.n).sum, hs.map(_.sumdl).sum, 8L)))
  family(Fam[ShingleIndex]("shingle",
    (d, p) => ShingleIndex.build(d, "doc_id", "text", p, ngram = 3,
      nBuckets = 8),
    ShingleIndex.load(spark, _),
    hs => Seq(hs.map(_.nDocs).sum, 3L, 8L, 1L)))
  family(Fam[WinnowIndex]("winnow",
    (d, p) => WinnowIndex.build(d, "doc_id", "text", p, k = 4, w = 5,
      nBuckets = 8),
    WinnowIndex.load(spark, _),
    hs => Seq(hs.map(_.nDocs).sum, 4L, 5L, 20L, 8L)))
  family(Fam[IvfVectorIndex]("ivf",
    (d, p) => IvfVectorIndex.build(d, "embedding", "doc_id", p, ivfModel),
    IvfVectorIndex.load(spark, _),
    _ => Seq(0L)))
  family(Fam[LshVectorIndex]("lsh",
    (d, p) => LshVectorIndex.build(d, "embedding", "doc_id", p, lsh),
    LshVectorIndex.load(spark, _),
    _ => Seq(0L)))

  test("a stale-handle merge whose destination _stats holds two part " +
    "files refuses before owning or claiming anything, naming the dir") {
    val root = scratch("twostats")
    val dst = Bm25Index.build(ids(0, 20), "text", "doc_id", s"$root/dst",
      nBuckets = 8)
    Bm25Index.build(ids(20, 40), "text", "doc_id", s"$root/src",
      nBuckets = 8)
    val statsDir = new java.io.File(s"$root/dst/_stats")
    val part = statsDir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(statsDir, "part-99999-copy.parquet").toPath)
    val e = intercept[IllegalStateException] {
      dst.mergeAll(Seq(Bm25Index.load(spark, s"$root/src")))
    }
    assert(e.getMessage.contains(s"$root/dst/_stats"), e.getMessage)
    assert(exists(s"$root/src"), "the source was not handed back")
    assert(!exists(s"$root/src${IndexMerge.OwnedSuffix}"))
    assert(!exists(s"$root/dst/_merge_pending"))
    assert(spark.read.parquet(s"$root/dst/_ranges").as[(Long, Long)]
      .collect().toSeq == Seq((0L, 19L)),
      "the source's claims must not land")
  }
}
