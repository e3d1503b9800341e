package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.RangeLedger

/** Persisted winnowing-fingerprint index — [[ShingleIndex]]'s storage
  * pattern applied to the MOSS near-copy matcher ([[Winnow]]):
  * `winnow_pairs` proves the matching semantics, but as a pure
  * function it re-fingerprints BOTH corpora on every call — at 100 TB
  * the lake side must be a stored artifact, probed per crawl and
  * appended per accepted batch, exactly like the shingle lake.
  *
  *  - postings `(hash, old_id)` — DISTINCT per document — live in
  *    parquet partitioned by `bucket = pmod(hash(hash), nBuckets)`
  *    and hash-sorted within files: a probe opens only its
  *    fingerprints' buckets and row-group-skips inside them;
  *  - `_stats` pins the fingerprint parameters (k, w, dfCap,
  *    buckets) so a probe can never run with mismatched winnowing;
  *  - the `_ranges` ledger ([[graft.index.RangeLedger]]) records every
  *    build/append's docid interval with the same claim-before-write
  *    ordering and overlap guard as [[ShingleIndex.appendBatch]].
  *
  * The stop-fingerprint cap (document frequency > `dfCap`, the bound
  * that keeps a boilerplate fingerprint from fanning the join out)
  * is evaluated AT PROBE TIME over the lake's own postings: the
  * bucket-pruned read delivers every lake posting of each candidate
  * hash, so the df computed there is the exact lake-wide df — no
  * separate sidecar to keep consistent across appends, and a hash
  * that crosses the cap through growth starts being dropped
  * automatically on the next probe — a shard merge keeps it exact for
  * the same reason.
  *
  * Compact and shard merge are the shared lifecycle
  * ([[graft.index.ManifestIndex]]), as for [[ShingleIndex]]. */
class WinnowIndex private (
    val spark: SparkSession,
    val path: String,
    val nDocs: Long,
    val k: Int,
    val w: Int,
    val dfCap: Int,
    val nBuckets: Int) extends graft.index.ManifestIndex[WinnowIndex] {

  protected def family: graft.index.Manifests.Family = WinnowIndex.Storage

  protected def idealPartitions: Int = nBuckets

  protected def requireMergeable(other: WinnowIndex): Unit =
    require(other.k == k && other.w == w && other.dfCap == dfCap &&
      other.nBuckets == nBuckets,
      s"winnow merge: parameter mismatch — this=($k,$w,$dfCap,$nBuckets) " +
      s"other=(${other.k},${other.w},${other.dfCap},${other.nBuckets})")

  override protected def mergedStats(others: Seq[WinnowIndex]): Seq[Long] =
    Seq(nDocs + others.map(_.nDocs).sum, k.toLong, w.toLong, dfCap.toLong,
      nBuckets.toLong)

  override protected def reloaded: WinnowIndex = WinnowIndex.load(spark, path)

  /** The CURRENT committed snapshot's fingerprints (r17 —
    * manifest-pinned like [[Bm25Index.postings]]: maintenance is safe
    * against concurrent readers). */
  def postings: DataFrame = {
    val m = graft.index.Manifests.require(spark, path)
    graft.index.Manifests.dataFrame(spark, path, m)
  }

  /** `docs` as postings rows `(hash, old_id, bucket)`. */
  private def postingRows(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fps(docs, idCol, textCol)
      .select(col("hash"), col("id").as("old_id"))
      .withColumn("bucket", pmod(hash(col("hash")), lit(nBuckets)))

  /** DISTINCT (id, hash) winnow fingerprints of `docs` under THIS
    * index's parameters (the `winnow` codegen expression rides the
    * scan; distinct is per document — one shuffle on (id, hash)). */
  private def fps(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.Graft.init(spark)
    docs
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .filter(col("__text").isNotNull)
      .selectExpr("id", s"explode(winnow(__text, $k, $w)) AS f")
      .select(col("id"), col("f.hash").as("hash"))
      .distinct()
  }

  /** Cross-corpus near-copy pairs of an incoming batch against the
    * INDEXED lake: (new_id, old_id, n_shared ≥ minShared), with the
    * lake side read from the stored postings (bucket-pruned, never
    * re-fingerprinted, never shuffled — the batch broadcasts into a
    * map-side hash probe riding the postings scan when it fits,
    * [[ShingleIndex.MaxBroadcastKeys]] budget). Lake fingerprints
    * above `dfCap` document frequency are dropped (df measured over
    * the full lake via the pruned read — see class doc). */
  def probe(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 2): DataFrame = {
    val inc = fps(incoming, idCol, textCol)
      .select(col("hash"), col("id").as("new_id"))
      .localCheckpoint()
    val (base, fits) =
      ShingleIndex.prunedPostings(inc, "hash", postings, nBuckets)
    def bcast(df: DataFrame): DataFrame = if (fits) broadcast(df) else df
    // lake-side df cap, evaluated candidates-first (r11): df only
    // matters for hashes the BATCH carries, so the pruned postings
    // scan semi-joins the batch's hash set before anything shuffles —
    // the df aggregate then moves candidate postings, not the lake
    // (the r11 1M-lake probe measured the lake-wide groupBy as the
    // dominant probe cost at 100k-batch shape). Semantics unchanged:
    // df(h) over `matched` equals df(h) over `base` for every hash the
    // batch carries, because `matched` keeps ALL lake occurrences of
    // those hashes; non-carried hashes never reached the pair join.
    // candidate postings materialized ONCE (localCheckpoint): both the
    // df aggregate and the join-back read the same blocks instead of
    // re-running the pruned postings scan + semi-join (measured 2x the
    // probe cost when recomputed). df per candidate hash then goes
    // through a partial-aggregated groupBy — only (hash, count) pairs
    // shuffle — and the surviving hash set joins back. A
    // Window.partitionBy(hash) here would funnel EVERY lake occurrence
    // of a hot hash (df >> dfCap) into one task before filtering it
    // out, reintroducing exactly the skew the cap exists to avoid; the
    // materialized candidates stay partition-parallel. The survivors
    // are <= the batch's distinct hashes, so the join-back broadcasts
    // under the same budget as the semi-join.
    val matched = base.join(bcast(inc.select("hash").distinct()), Seq("hash"))
      .select("hash", "old_id")
      .localCheckpoint()
    val dfOk = matched.groupBy("hash")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap)
      .select("hash")
    val kept = matched.join(bcast(dfOk), Seq("hash"))
      .select("hash", "old_id")
    bcast(inc)
      .join(kept, Seq("hash"))
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("new_id", "old_id", "n_shared")
  }

  /** Append a batch's fingerprints into their bucket partitions —
    * claim-the-range-first ordering and the overlap guard, exactly
    * [[ShingleIndex.appendBatch]]'s contract. */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      force: Boolean = false): WinnowIndex = {
    val Array(st) = docs
      .agg(count(col(idCol)).as("n"),
        min(col(idCol).cast("long")).as("lo"),
        max(col(idCol).cast("long")).as("hi"))
      .collect()
    val nNew = st.getLong(0)
    if (nNew == 0L) return this
    require(!st.isNullAt(1),
      s"winnow append: every value of id column '$idCol' casts to null")
    val (lo, hi) = (st.getLong(1), st.getLong(2))
    RangeLedger.claim(spark, path, "winnow append", lo, hi, force)
    graft.index.Manifests.appendGeneration(spark, path, family,
      postingRows(docs, idCol, textCol))
    WinnowIndex.writeStats(spark, path, nDocs + nNew, k, w, dfCap, nBuckets)
    new WinnowIndex(spark, path, nDocs + nNew, k, w, dfCap, nBuckets)
  }
}

object WinnowIndex {

  /** Bucket-partitioned, hash-sorted fingerprints. A settled merge
    * writes the post-merge stats row into `_stats`. */
  private[operators] val Storage: graft.index.Manifests.Family =
    new graft.index.Manifests.Family("bucket", "hash") {
      override def settle(spark: SparkSession, path: String,
          srcs: Seq[String], stats: Seq[Long]): Unit =
        writeStats(spark, path, stats(0), stats(1).toInt, stats(2).toInt,
          stats(3).toInt, stats(4).toInt)
    }

  private def writeStats(spark: SparkSession, path: String, nDocs: Long,
      k: Int, w: Int, dfCap: Int, nBuckets: Int): Unit = {
    import spark.implicits._
    Seq((nDocs, k, w, dfCap, nBuckets))
      .toDF("n_docs", "k", "w", "df_cap", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
  }

  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 4,
      w: Int = 5,
      dfCap: Int = 20,
      nBuckets: Int = ShingleIndex.AutoBuckets): WinnowIndex = {
    val spark = docs.sparkSession
    val Array(st) = docs
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size(split(col(textCol), " "))), lit(0L))
          .cast("long").as("toks"),
        min(col(idCol).cast("long")).as("lo"),
        max(col(idCol).cast("long")).as("hi"))
      .collect()
    require(st.getLong(0) > 0,
      s"winnow index: empty corpus, refusing to build $path")
    require(!st.isNullAt(2),
      s"winnow index: every value of id column '$idCol' casts to null")
    // winnowing keeps ~1/((w+1)/2) of the grams; size buckets on the
    // selected-fingerprint volume, same cube-root rule as term postings
    val nb = if (nBuckets == ShingleIndex.AutoBuckets)
      Bm25Index.autoBuckets(math.max(1L, 2L * st.getLong(1) / (w + 1)))
    else nBuckets
    // a rebuild over an existing path replaces the index whole (r17:
    // explicit reset so the manifest store restarts at generation 1)
    graft.index.Manifests.reset(spark, path)
    val idx = new WinnowIndex(spark, path, 0L, k, w, dfCap, nb)
    graft.index.Manifests.writeGeneration(spark, path, Storage,
      idx.postingRows(docs, idCol, textCol), None, Nil, None)
    writeStats(spark, path, st.getLong(0), k, w, dfCap, nb)
    RangeLedger.record(spark, path, (st.getLong(2), st.getLong(3)))
    new WinnowIndex(spark, path, st.getLong(0), k, w, dfCap, nb)
  }

  /** Open an index: roll an interrupted shard merge forward, then read
    * `_stats` on the driver. */
  def load(spark: SparkSession, path: String): WinnowIndex = {
    graft.index.Manifests.completeMerge(spark, path, Storage)
    val st = graft.index.Manifests.readStats(spark, path)
    new WinnowIndex(spark, path, st.getLong("n_docs", 0),
      st.getInteger("k", 0), st.getInteger("w", 0),
      st.getInteger("df_cap", 0), st.getInteger("n_buckets", 0))
  }
}
