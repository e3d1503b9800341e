package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnLsh, HyperplaneLsh, Knn}

/** Vector index stored *partitioned by LSH bucket* — the storage-level
  * ANN layout for 100 TB corpora.
  *
  * The reference's HNSW graph (weaviate.py:26) is a single-node
  * in-memory structure; the Spark-native equivalent of "don't touch
  * most of the data" is Hive-style partition pruning: vectors land in
  * `bucket=<id>/` partition directories at write time, and a search
  * reads ONLY the probed buckets — visible as `PartitionFilters` in the
  * scan, with unprobed files never opened. With `nbits` hyperplanes the
  * corpus splits into 2^nbits partitions, each a self-contained
  * brute-force problem; multi-probe trades recall vs files read.
  *
  * Storage is MANIFEST-PINNED SNAPSHOTS (r17 — [[Manifests]], shared
  * with [[IvfVectorIndex]]): writes land in fresh `gen=…` directories
  * and become visible at an atomic manifest commit, so compaction and
  * merges are safe against concurrent readers. The hyperplanes (dim,
  * nbits, seed) are immutable for the life of the index, so they stay
  * in the top-level `_lsh_meta.json` sidecar rather than versioning
  * with the data.
  *
  * Append, compact and shard merge are the shared lifecycle
  * ([[ManifestIndex]]): shards built with the SAME hyperplanes (dim,
  * nbits, seed fully determine them) bucket alike, so their snapshots
  * are disjoint row sets of the same merged index. */
class LshVectorIndex private (
    val spark: SparkSession,
    val path: String,
    val lsh: HyperplaneLsh) extends ManifestIndex[LshVectorIndex] {

  protected def family: Manifests.Family = LshVectorIndex.Storage

  /** One file per OCCUPIED bucket: 2^nbits is only the ceiling, so the
    * snapshot's actual partition count is the base. */
  protected def idealPartitions: Int = math.max(1,
    Manifests.require(spark, path).parts
      .map(Manifests.partitionValueOf).distinct.size)

  protected def requireMergeable(other: LshVectorIndex): Unit =
    require(lsh == other.lsh,
      s"lsh merge: shards must share hyperplanes — this=$lsh " +
      s"other=${other.lsh} (different planes bucket the same vector " +
      "differently and the merged partitions would lie)")

  /** The CURRENT committed snapshot ([[IvfVectorIndex.df]]'s
    * contract: resolved once per snapshot, pinned through
    * [[Manifests.DefaultRetain]]−1 further maintenance commits). */
  def df: DataFrame =
    Manifests.dataFrame(spark, path, Manifests.require(spark, path))

  /** Exact top-k inside the probed buckets (approximate overall; probes
    * = nbits degrades gracefully to exact full-scan). */
  def search(queryVec: Array[Float], k: Int, probes: Int = 1): DataFrame = {
    val buckets = lsh.probeSet(queryVec, probes)
    Knn.search(df.filter(col("bucket").isin(buckets: _*)),
      "vector", "docid", queryVec, k)
  }

  /** Incremental maintenance: bucketize new rows with the STORED
    * hyperplanes (the pruning contract — planes are never reseeded on
    * append) and land them in a fresh generation; the batch becomes
    * visible atomically at the manifest commit ([[IvfVectorIndex
    * .append]]'s r17 contract — no visible-subset crash window). */
  def append(docs: DataFrame, vecCol: String, idCol: String): LshVectorIndex = {
    Manifests.appendGeneration(spark, path, family,
      LshVectorIndex.rows(docs, vecCol, idCol, lsh))
    // docid-interval note for the shard-merge disjointness guard
    // (r15) — after the commit, same contract as
    // [[IvfVectorIndex.append]]
    RangeLedger.recordSpan(spark, path, docs, idCol)
    this
  }

  def count(): Long = df.count()
}

object LshVectorIndex {

  /** Bucket-partitioned, docid-sorted generations. */
  private[index] val Storage = new Manifests.Family("bucket", "docid")

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_lsh_meta.json")

  /** `docs` as index rows: the planes' bucket, the vector as `vector`,
    * the id as `docid`. */
  private def rows(docs: DataFrame, vecCol: String, idCol: String,
      lsh: HyperplaneLsh): DataFrame =
    AnnLsh.bucketize(docs, vecCol, lsh)
      .withColumnRenamed(vecCol, "vector")
      .withColumnRenamed(idCol, "docid")

  /** Build from (docid, vector, …) rows: assign buckets, write the
    * first generation, commit the first manifest. `maxRecordsPerFile`
    * keeps any hot bucket from producing a single giant file. The LSH
    * parameters (dim, nbits, seed — hyperplanes are fully determined
    * by them) are persisted so `load` cannot silently search with
    * mismatched planes. A rebuild over an existing path replaces the
    * index whole. */
  def build(
      docs: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      lsh: HyperplaneLsh,
      maxRecordsPerFile: Long = Manifests.MaxRecordsPerFile)
      : LshVectorIndex = {
    val spark = docs.sparkSession
    Manifests.reset(spark, path)
    Manifests.writeGeneration(spark, path, Storage,
      rows(docs, vecCol, idCol, lsh), None, Nil, None, maxRecordsPerFile)
    // fresh build (the reset removed the old ledger): the docid-range
    // ledger (r15) — the [[LshVectorIndex.mergeAll]] shard-disjointness
    // guard's memory
    RangeLedger.recordSpan(spark, path, docs, idCol)
    val meta = metaPath(path)
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(meta, true)
    try out.write(
      s"""{"dim":${lsh.dim},"nbits":${lsh.nbits},"seed":${lsh.seed}}"""
        .getBytes("UTF-8"))
    finally out.close()
    new LshVectorIndex(spark, path, lsh)
  }

  /** Open an index, recovering the persisted LSH parameters. An
    * explicitly passed `lsh` must match them (wrong planes would
    * silently probe the wrong buckets). Rolls an interrupted shard
    * merge forward first. */
  def load(spark: SparkSession, path: String,
      lsh: Option[HyperplaneLsh] = None): LshVectorIndex = {
    Manifests.completeMerge(spark, path, Storage)
    val stored = readMeta(spark, path)
    (stored, lsh) match {
      case (Some(s), Some(l)) =>
        require(s == l,
          s"LSH config mismatch: index built with $s, caller passed $l")
        new LshVectorIndex(spark, path, l)
      case (Some(s), None) => new LshVectorIndex(spark, path, s)
      case (None, Some(l)) => new LshVectorIndex(spark, path, l)
      case (None, None) => throw new IndexNotFoundException(
        s"No LSH metadata at $path and no HyperplaneLsh supplied")
    }
  }

  /** The persisted LSH parameters, None when the index has no
    * `_lsh_meta.json`. A file that is present but does not parse is a
    * broken index and throws: treating it as absent would let `load`
    * accept a caller's planes unchecked. */
  private def readMeta(spark: SparkSession, path: String): Option[HyperplaneLsh] = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    def num(k: String) =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    val parsed = for (d <- num("dim"); n <- num("nbits"); s <- num("seed"))
      yield HyperplaneLsh(d.toInt, n.toInt, s)
    if (parsed.isEmpty)
      throw new IllegalStateException(
        s"unparsable LSH metadata at $p — refusing to guess the planes")
    parsed
  }
}
