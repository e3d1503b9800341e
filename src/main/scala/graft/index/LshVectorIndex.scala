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
  * with the data. */
class LshVectorIndex private (
    val spark: SparkSession,
    val path: String,
    val lsh: HyperplaneLsh) {

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
    val m = Manifests.require(spark, path)
    val gen = Manifests.genDirName(m.n + 1)
    AnnLsh.bucketize(docs, vecCol, lsh)
      .withColumnRenamed(vecCol, "vector")
      .withColumnRenamed(idCol, "docid")
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "docid")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/$gen")
    Manifests.commit(spark, path, m.book,
      m.parts ++ Manifests.listParts(spark, path, gen))
    // docid-interval note for the shard-merge disjointness guard
    // (r15) — after the commit, same contract as
    // [[IvfVectorIndex.append]]
    val Array(idr) = docs.agg(
      min(col(idCol).cast("long")), max(col(idCol).cast("long"))).collect()
    if (!idr.isNullAt(0))
      graft.operators.IndexMerge.recordRange(
        spark, path, idr.getLong(0), idr.getLong(1))
    this
  }

  def count(): Long = df.count()

  /** Absorb `other` — a shard built with the SAME hyperplanes (dim,
    * nbits, seed fully determine them) — by whole-generation renames:
    * identical planes assign identical buckets, so the shards'
    * snapshots are disjoint row sets of the same merged index
    * ([[IvfVectorIndex.merge]]'s contract). */
  def merge(other: LshVectorIndex): LshVectorIndex = mergeAll(Seq(other))

  /** Multi-way [[merge]] (r15): one docid-disjointness claims pass
    * over every source's `_ranges` ledger (PARTIAL overlaps between
    * shards throw — the postings lakes' guard, uniform across all
    * five families; pre-ledger indexes merge unchecked), then
    * per-source generation moves behind the r17 crash protocol:
    * sources owned by rename ([[graft.operators.IndexMerge
    * .takeOwnership]]), a `_merge_pending` marker before any move,
    * [[Manifests.completeMerge]] as both mainline and load-time
    * roll-forward, atomic reader visibility at the manifest commit. */
  def mergeAll(others: Seq[LshVectorIndex],
      compact: Boolean = false): LshVectorIndex = {
    if (others.isEmpty) return this
    others.foreach { other =>
      require(lsh == other.lsh,
        s"lsh merge: shards must share hyperplanes — this=$lsh " +
        s"other=${other.lsh} (different planes bucket the same vector " +
        "differently and the merged partitions would lie)")
    }
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.IndexMerge.requireDistinctSources(
      spark, path, others.map(_.path))
    graft.operators.IndexMerge.requireQuiesced(
      spark, path, others.map(_.path))
    Manifests.completeMerge(spark, path) // settle an older merge first
    // ownership rename BEFORE the claims read (r17 — see
    // [[graft.operators.IndexMerge.takeOwnership]])
    val owned = graft.operators.IndexMerge.takeOwnership(
      spark, others.map(_.path), allowMissing = true)
    try graft.operators.IndexMerge.claimRangesAll(spark, path, owned)
    catch {
      case e: Throwable => // refused before any move: hand back
        others.foreach(o =>
          graft.operators.IndexMerge.releaseOwnership(spark, o.path))
        throw e
    }
    graft.operators.IndexMerge.writeMarker(
      fs, dst, graft.operators.IndexMerge.joinSrcs(owned), Seq(0L))
    Manifests.completeMerge(spark, path) // runs THIS merge to the end
    // opt-in post-step (r16) — see Bm25Index.mergeAll's note
    if (compact && shouldCompact()) this.compact() else this
  }

  /** `(fileCount, bytes)` of the current snapshot's data tree. */
  def storageFootprint(): (Long, Long) = {
    val m = Manifests.require(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = m.parts.flatMap { p =>
      val d = new org.apache.hadoop.fs.Path(s"$path/$p")
      if (fs.exists(d)) fs.listStatus(d).filter(_.isFile).toSeq
      else Seq.empty
    }
    (stats.length.toLong, stats.map(_.getLen).sum)
  }

  /** The auto-compaction trigger ([[graft.operators.ShingleIndex
    * .shouldCompact]]'s measured rule; ideal = one file per occupied
    * LSH bucket — 2^nbits is the CEILING of occupied buckets, so the
    * snapshot's actual occupied-partition count is the base). */
  def shouldCompact(
      slack: Double = 16.0,
      targetFileBytes: Long = 256L << 20): Boolean = {
    val m = Manifests.require(spark, path)
    val nOccupied = m.parts.map(Manifests.partitionValueOf).distinct.size
    val (files, bytes) = storageFootprint()
    graft.operators.IndexMerge.needsCompact(
      files, bytes, math.max(1, nOccupied), slack, targetFileBytes)
  }

  /** Offline maintenance after appends/merges fragment the bucket
    * partitions: rewrite each bucket whole into a fresh generation
    * and commit — CONCURRENT READERS pinned to the previous snapshot
    * are undisturbed (r17; the pre-manifest directory swap was honest
    * about not being reader-safe). */
  def compact(maxRecordsPerFile: Long = 5000000L): LshVectorIndex = {
    val m = Manifests.require(spark, path)
    val gen = Manifests.genDirName(m.n + 1)
    Manifests.dataFrame(spark, path, m)
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "docid")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(s"$path/$gen")
    Manifests.commit(spark, path, m.book,
      Manifests.listParts(spark, path, gen))
    new LshVectorIndex(spark, path, lsh)
  }
}

object LshVectorIndex {

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_lsh_meta.json")

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
      maxRecordsPerFile: Long = 5000000L): LshVectorIndex = {
    val spark = docs.sparkSession
    Manifests.reset(spark, path)
    val gen = Manifests.genDirName(1L)
    AnnLsh.bucketize(docs, vecCol, lsh)
      .withColumnRenamed(vecCol, "vector")
      .withColumnRenamed(idCol, "docid")
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "docid")
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(s"$path/$gen")
    Manifests.commit(spark, path, None,
      Manifests.listParts(spark, path, gen))
    // fresh build: reset the docid-range ledger (r15) — the
    // [[LshVectorIndex.mergeAll]] shard-disjointness guard's memory
    val Array(idr) = docs.agg(
      org.apache.spark.sql.functions.min(col(idCol).cast("long")),
      org.apache.spark.sql.functions.max(col(idCol).cast("long"))).collect()
    if (!idr.isNullAt(0))
      graft.operators.IndexMerge.resetRange(
        spark, path, idr.getLong(0), idr.getLong(1))
    val meta = metaPath(path)
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(meta, true)
    out.write(
      s"""{"dim":${lsh.dim},"nbits":${lsh.nbits},"seed":${lsh.seed}}"""
        .getBytes("UTF-8"))
    out.close()
    new LshVectorIndex(spark, path, lsh)
  }

  /** Open an index, recovering the persisted LSH parameters. An
    * explicitly passed `lsh` must match them (wrong planes would
    * silently probe the wrong buckets). Rolls an interrupted shard
    * merge forward first. */
  def load(spark: SparkSession, path: String,
      lsh: Option[HyperplaneLsh] = None): LshVectorIndex = {
    Manifests.completeMerge(spark, path)
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

  private def readMeta(spark: SparkSession, path: String): Option[HyperplaneLsh] = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      in.close()
      def num(k: String) =
        s""""$k":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      for (d <- num("dim"); n <- num("nbits"); s <- num("seed"))
        yield HyperplaneLsh(d.toInt, n.toInt, s)
    }
  }
}
