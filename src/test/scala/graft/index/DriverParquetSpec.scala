package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** DriverParquet reads index metadata sidecars WITHOUT a Spark job —
  * the r17 optimization that removed the per-load metadata jobs from
  * every index construction. The contract it must keep: bit-identical
  * values to the spark.read.parquet path it replaced, for exactly the
  * shapes the index families write (single-row stats tuples, k-row
  * codebooks with float-array columns), across multi-file dirs. */
class DriverParquetSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("driver-parquet-spec")
    .getOrCreate()

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_dpq_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("stats-shaped single row: long/long/int/boolean round-trip") {
    import spark.implicits._
    val dir = tmpDir("stats")
    Seq((12345678901L, -7L, 42, true))
      .toDF("n", "sumdl", "n_buckets", "hash_keys")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val g = DriverParquet.groups(spark, dir).head
    assert(g.getLong("n", 0) === 12345678901L)
    assert(g.getLong("sumdl", 0) === -7L)
    assert(g.getInteger("n_buckets", 0) === 42)
    assert(g.getBoolean("hash_keys", 0) === true)
  }

  test("codebook-shaped rows: float arrays bit-identical to the Spark read, across part files") {
    import spark.implicits._
    val dir = tmpDir("book")
    val rows = (0 until 7).map(i =>
      (i, Seq.tabulate(5)(j => (i * 10 + j) / 3.0f)))
    // two part files, written unsorted: the reader must see every row
    // and the caller re-sorts by the key column as load() does
    rows.reverse.toDF("cluster", "centroid")
      .repartition(2)
      .write.mode("overwrite").parquet(dir)
    val viaSpark = spark.read.parquet(dir)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray.toSeq))
    val viaDriver = DriverParquet.groups(spark, dir)
      .sortBy(_.getInteger("cluster", 0))
      .map(g => (g.getInteger("cluster", 0),
        DriverParquet.floatArray(g, "centroid").toSeq))
    assert(viaDriver === viaSpark.toVector)
  }

  test("the loaded Bm25Index stats equal what writeStats persisted") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val path = tmpDir("bm25") + "/idx"
    graft.operators.Bm25Index.build(docs, "text", "doc_id", path,
      nBuckets = 4)
    val idx = graft.operators.Bm25Index.load(spark, path)
    assert(idx.n === 2L)
    assert(idx.nBuckets === 4)
    // sumdl = total token count over the corpus (3 + 3)
    assert(idx.sumdl === 6L)
  }

  test("single: a sidecar without exactly one row fails loudly") {
    import spark.implicits._
    val empty = tmpDir("empty")
    Seq.empty[(Long, Long)].toDF("n", "sumdl")
      .coalesce(1).write.mode("overwrite").parquet(empty)
    val e0 = intercept[IllegalStateException](DriverParquet.single(spark, empty))
    assert(e0.getMessage.contains(empty) && e0.getMessage.contains("found 0"))
    val one = tmpDir("one")
    Seq((3L, 9L)).toDF("n", "sumdl")
      .coalesce(1).write.mode("overwrite").parquet(one)
    assert(DriverParquet.single(spark, one).getLong("sumdl", 0) === 9L)
  }

  test("an index whose _stats holds two part files refuses to load") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"))
      .toDF("doc_id", "text")
    val path = tmpDir("bm25dup") + "/idx"
    graft.operators.Bm25Index.build(docs, "text", "doc_id", path,
      nBuckets = 4)
    // a second one-row part file beside the committed one
    val stats = new java.io.File(s"$path/_stats")
    val part = stats.listFiles.find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(stats, "part-99999-extra.parquet").toPath)
    val e = intercept[IllegalStateException](
      graft.operators.Bm25Index.load(spark, path))
    assert(e.getMessage.contains(s"$path/_stats"), e.getMessage)
    assert(e.getMessage.contains("found 2"), e.getMessage)
  }
}
