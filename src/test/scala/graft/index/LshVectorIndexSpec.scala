package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{HyperplaneLsh, Knn}

class LshVectorIndexSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("load recovers persisted LSH params; mismatched params rejected") {
    val lsh = HyperplaneLsh(dim = 64, nbits = 4, seed = 13L)
    val dir = Files.createTempDirectory("lshmeta").toString
    LshVectorIndex.build(emb, "embedding", "vec_id", dir, lsh)
    val loaded = LshVectorIndex.load(spark, dir)
    assert(loaded.lsh == lsh)
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).toArray
    assert(loaded.search(q, 3, probes = 4).count() == 3)
    intercept[IllegalArgumentException] {
      LshVectorIndex.load(spark, dir, Some(HyperplaneLsh(64, 4, seed = 99L)))
    }
  }

  test("LSH metadata that does not parse is an error, not absent: " +
    "load refuses even with caller-supplied planes") {
    val lsh = HyperplaneLsh(dim = 64, nbits = 4, seed = 13L)
    val dir = Files.createTempDirectory("lshgarbled").toString
    LshVectorIndex.build(emb, "embedding", "vec_id", dir, lsh)
    // a torn write, through Hadoop so the checksum sidecar matches
    val meta = new org.apache.hadoop.fs.Path(dir, "_lsh_meta.json")
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(meta, true)
    try out.write("{\"dim\":64,\"nbits\":".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      LshVectorIndex.load(spark, dir, Some(lsh))
    }
    assert(e.getMessage.contains("_lsh_meta.json"), e.getMessage)
    intercept[IllegalStateException] { LshVectorIndex.load(spark, dir) }
  }

  test("bucket-partitioned build + pruned search (PartitionFilters visible)") {
    val lsh = HyperplaneLsh(dim = 64, nbits = 5, seed = 7L)
    val dir = Files.createTempDirectory("lshidx").toString
    val idx = LshVectorIndex.build(emb, "embedding", "vec_id", dir, lsh)
    assert(idx.count() == emb.count())

    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val res = idx.search(q, 5, probes = 1)
    // self-match must be found (its own bucket is always probed)
    assert(res.select("docid").as[Long].collect().head == 3L)

    // the scan must prune partitions: bucket filter appears as a
    // partition filter, and only probed directories are listed
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)

    // full-probe search == exact brute force over the whole corpus
    val exact = Knn.search(
      idx.df.select(col("docid").as("vec_id"), col("vector")),
      "vector", "vec_id", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    val fullProbe = idx.search(q, 5, probes = 5)
      .select("docid").as[Long].collect().toSeq
    assert(fullProbe == exact)
  }

  test("append bucketizes with the stored planes; appended rows are " +
    "searchable via the same pruned scan") {
    val lsh = graft.operators.HyperplaneLsh(dim = 64, nbits = 4, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-app").toString
    LshVectorIndex.build(
      emb.filter(col("vec_id") < 250), "embedding", "vec_id", dir, lsh)
    val idx = LshVectorIndex.load(spark, dir)
      .append(emb.filter(col("vec_id") >= 250), "embedding", "vec_id")
    assert(idx.count() == emb.count())
    val qv = emb.filter(col("vec_id") === 321)
      .select("embedding").head().getSeq[Float](0).toArray
    val top = idx.search(qv, 1, probes = 1).select("docid", "score").head()
    assert(top.getLong(0) == 321L &&
      math.abs(top.getDouble(1) - 1.0) < 1e-9)
  }
}
