package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Bm25Index, Ivf}

/** A read reuses the DataFrame of an unchanged index snapshot
  * ([[Snapshots]]), and every kind of maintenance makes the next read
  * see the new rows: a rebuild at the same path, each flat and IVF
  * maintenance op, a postings-lake append and a commit made through
  * another session. A DataFrame taken before maintenance keeps reading
  * the snapshot it pinned. */
class SnapshotReuseSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private def around(dir: Int, n: Int, from: Long) =
    (0 until n).map { i =>
      (from + i, Array.tabulate(8)(d =>
        (if (d == dir) 1.0f else 0.0f) + rnd.nextFloat() * 0.15f))
    }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  private def ids(df: DataFrame): Set[Long] =
    df.select("docid").as[Long].collect().toSet

  private def flatDocs(uids: Seq[Int], dir: Int): DataFrame =
    uids.map { u =>
      (f"u$u%04d", Array.tabulate(4)(d => if (d == dir) 1.0f else 0.1f))
    }.toDF("uid", "vector")

  private def uids(idx: VectorIndex): Set[String] =
    idx.df.select("uid").as[String].collect().toSet

  test("an unchanged snapshot is one DataFrame; a reader pinned before " +
    "a flat append, upsert or delete keeps its rows while the next " +
    "read sees the new ones") {
    val idx = VectorIndex.create(spark, tmp("graft-snap-flat"))
    idx.index(flatDocs(0 until 6, 0))
    val pinned = idx.df
    assert(idx.df eq pinned, "a warm read reuses the resolved snapshot")
    assert(VectorIndex.load(spark, idx.path).df eq pinned,
      "reuse is per path, not per handle")
    // append lands in the LIVE version directory: only the listing says
    // the snapshot changed
    val v = idx.currentVersion
    idx.append(flatDocs(6 until 9, 1))
    assert(idx.currentVersion == v, "append keeps the version")
    assert(uids(idx) == (0 until 9).map(u => f"u$u%04d").toSet)
    assert(pinned.count() == 6, "the pinned reader keeps its file list")
    idx.upsert(flatDocs(Seq(2, 20), 2))
    assert(uids(idx).contains("u0020"))
    assert(idx.search(Array(0f, 0f, 1f, 0f), 2).select("uid").as[String]
      .collect().toSet == Set("u0002", "u0020"))
    idx.deleteUids(Seq("u0003", "u0020"))
    assert(!uids(idx).exists(Set("u0003", "u0020")))
    assert(idx.count() == 8)
    assert(pinned.count() == 6)
  }

  test("an IVF read sees each append, compact and grow; the pinned " +
    "DataFrame keeps its snapshot") {
    val path = tmp("graft-snap-ivf")
    val ref = (around(0, 30, 0L) ++ around(2, 30, 100L))
      .toDF("vec_id", "embedding")
    val model = Ivf.train(ref, "embedding", k = 2, sampleSize = 100)
    val idx = IvfVectorIndex.build(ref, "embedding", "vec_id", path, model)
    val pinned = idx.df
    assert(idx.df eq pinned)
    val built = ids(pinned)
    idx.append(around(4, 20, 200L).toDF("vec_id", "embedding"),
      "embedding", "vec_id")
    val appended = built ++ (200L until 220L)
    assert(ids(idx.df) == appended, "append visible to the next read")
    val q = Array.tabulate(8)(d => if (d == 4) 1.0f else 0.0f)
    assert(idx.search(q, 5, nprobe = 2).select("docid").as[Long].collect()
      .forall(_ >= 200L), "the appended rows are searched")
    val compacted = idx.compact()
    assert(ids(idx.df) == appended, "same rows after compact")
    assert(idx.df ne pinned, "compact commits a new snapshot")
    val homes = compacted.df.filter(col("docid") >= 200L)
      .select("cluster").distinct().as[Int].collect().toSeq
    val grown = compacted.growClusters(homes, add = 1)
    assert(grown.model.centroids.length == 3, "grow really ran")
    val cells = grown.df.filter(col("docid") >= 200L)
      .select("cluster").distinct().as[Int].collect().toSet
    assert(cells.contains(2), s"the next read sees the grown cell: $cells")
    assert(ids(pinned) == built, "the pinned reader keeps its snapshot")
  }

  test("a rebuild at the same path (manifest numbering restarts at 1) " +
    "is seen by the next read") {
    val path = tmp("graft-snap-rebuild")
    val first = around(0, 20, 0L).toDF("vec_id", "embedding")
    val model = Ivf.train(first, "embedding", k = 2, sampleSize = 50)
    IvfVectorIndex.build(first, "embedding", "vec_id", path, model)
    val before = IvfVectorIndex.load(spark, path).df
    assert(ids(before) == (0L until 20L).toSet)
    val second = around(0, 20, 500L).toDF("vec_id", "embedding")
    IvfVectorIndex.build(second, "embedding", "vec_id", path, model)
    assert(Manifests.require(spark, path).n == 1, "numbering restarted")
    assert(ids(IvfVectorIndex.load(spark, path).df) ==
      (500L until 520L).toSet)
  }

  test("a postings-lake append is seen by the next read") {
    val path = tmp("graft-snap-bm25")
    val idx = Bm25Index.build(
      Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("docid", "text"),
      "text", "docid", path)
    val pinned = idx.postings
    assert(idx.postings eq pinned)
    val grown = idx.append(Seq((2L, "delta")).toDF("docid", "text"),
      "text", "docid")
    assert(grown.postings.filter(col("term") === "delta").count() == 1)
    assert(pinned.filter(col("term") === "delta").count() == 0)
  }

  test("a commit through a second session is seen by the first; one " +
    "entry per path, serving only the session that resolved it") {
    val path = tmp("graft-snap-sessions")
    val ref = around(0, 20, 0L).toDF("vec_id", "embedding")
    val model = Ivf.train(ref, "embedding", k = 2, sampleSize = 50)
    IvfVectorIndex.build(ref, "embedding", "vec_id", path, model)
    val mine = IvfVectorIndex.load(spark, path).df
    assert(Snapshots.sessionOf(path).exists(_ eq spark))

    val other = spark.newSession()
    val theirs = IvfVectorIndex.load(other, path)
    assert(theirs.df.sparkSession eq other,
      "another session never gets this session's DataFrame")
    assert(Snapshots.sessionOf(path).exists(_ eq other),
      "the path's single entry now serves the other session")
    theirs.append(other.createDataFrame(around(2, 5, 100L))
      .toDF("vec_id", "embedding"), "embedding", "vec_id")

    val after = IvfVectorIndex.load(spark, path).df
    assert(after.sparkSession eq spark)
    assert(ids(after) == (0L until 20L).toSet ++ (100L until 105L))
    assert(ids(mine) == (0L until 20L).toSet)
  }
}
