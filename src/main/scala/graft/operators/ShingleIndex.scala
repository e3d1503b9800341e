package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.RangeLedger

/** Persisted inverted shingle index — the storage half of incremental
  * ingest dedup.
  *
  * [[TextDedup.matchesAgainst]] is the right JOIN (incoming × base
  * only, never base × base), but as a pure function it re-shingles and
  * re-explodes the BASE corpus on every call — at 100 TB that means
  * every nightly crawl re-pays a full lake pass (the 1M-lake probe in
  * BASELINE.md measured the lake explode dominating the per-crawl
  * cost). This class makes the lake's inverted index a STORED artifact,
  * following [[Bm25Index]]'s design exactly:
  *
  *  - postings `(key, old_id, nsh)` live in parquet partitioned by
  *    `bucket = pmod(hash(key), nBuckets)` and key-sorted within files,
  *    so a probe opens only its shingles' buckets (Hive partition
  *    pruning) and skips row groups on key min/max inside them;
  *  - `_stats` sidecar pins the shingle parameters (ngram width, key
  *    hashing, bucket count) so a probe can never silently run with
  *    mismatched shingling;
  *  - the `_ranges` ledger ([[graft.index.RangeLedger]]) records
  *    every build/append's docid interval — re-appending an indexed
  *    doc would double its postings, so an overlapping append throws
  *    (the one overlap guard, with the same `force` escape hatch, as
  *    [[Bm25Index.append]]).
  *
  * Keys are 8-byte shingle hashes by default ([[TextDedup.explodedHashes]]:
  * `shingle_hashes`, equal to `xxhash64` of each shingle string) — the
  * [[SubstrDedup]] precedent: word-trigram strings average ~20 bytes
  * and the hashed index is ~3× smaller and join-cheaper. `nsh` is the
  * distinct-hash count; it and a pair's intersection differ from the
  * string counts only on a 64-bit collision inside one document or one
  * pair, the trade [[MinHashLsh]] documents (ShingleHashKeySpec pins
  * hashed == string-keyed). `hashKeys = false` stores the shingle
  * verbatim for exact-at-any-scale semantics.
  *
  * The reference has no dedup surface (SURVEY §2.5) — this is the
  * north-star extension's production-lifecycle form: build the lake
  * index once, probe it per crawl, append each accepted batch's own
  * shingles, never re-shingle the lake.
  *
  * Compact and shard merge are the shared lifecycle
  * ([[graft.index.ManifestIndex]]): shards with IDENTICAL shingle
  * parameters over disjoint docid ranges bucket by the same content
  * hash, so the merged snapshot is just both part sets.
  */
class ShingleIndex private (
    val spark: SparkSession,
    val path: String,
    val nDocs: Long,
    val ngram: Int,
    val nBuckets: Int,
    val hashKeys: Boolean) extends graft.index.ManifestIndex[ShingleIndex] {

  protected def family: graft.index.Manifests.Family = ShingleIndex.Storage

  protected def idealPartitions: Int = nBuckets

  protected def requireMergeable(other: ShingleIndex): Unit =
    require(other.ngram == ngram && other.nBuckets == nBuckets &&
      other.hashKeys == hashKeys,
      s"shingle merge: parameter mismatch — this=(ngram=$ngram," +
      s"buckets=$nBuckets,hashKeys=$hashKeys) other=(ngram=${other.ngram}," +
      s"buckets=${other.nBuckets},hashKeys=${other.hashKeys}); shards " +
      "must be built with identical parameters")

  override protected def mergedStats(others: Seq[ShingleIndex]): Seq[Long] =
    Seq(nDocs + others.map(_.nDocs).sum, ngram.toLong, nBuckets.toLong,
      if (hashKeys) 1L else 0L)

  override protected def reloaded: ShingleIndex =
    ShingleIndex.load(spark, path)

  /** The CURRENT committed snapshot's postings (r17 — manifest-pinned
    * like [[Bm25Index.postings]]: maintenance is safe against
    * concurrent readers; a resolved probe plan reads its snapshot to
    * completion while compact/merge commit the next one beside it). */
  def postings: DataFrame = {
    val m = graft.index.Manifests.require(spark, path)
    graft.index.Manifests.dataFrame(spark, path, m)
  }

  /** `docs` as postings rows `(key, old_id, nsh, bucket)`. */
  private def postingRows(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    keyed(docs, idCol, textCol)
      .select(col("key"), col("id").as("old_id"), col("nsh"))
      .withColumn("bucket", pmod(hash(col("key")), lit(nBuckets)))

  /** Exploded keyed shingles of `docs`: (id, key, nsh) under THIS
    * index's shingle parameters. */
  private def keyed(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    if (hashKeys) TextDedup.explodedHashes(docs, idCol, textCol, ngram)
    else TextDedup.explodedShingles(docs, idCol, textCol, ngram)
      .withColumnRenamed("shingle", "key")

  /** The incoming batch keyed ONCE and materialized: (key, new_id,
    * nsh_new). The batch is the small side by the ingest contract;
    * lineage is released by GC when the result's reference drops (the
    * DataMix localCheckpoint pattern). */
  private def keyedBatch(
      incoming: DataFrame, idCol: String, textCol: String): DataFrame =
    keyed(incoming, idCol, textCol)
      .select(col("key"), col("id").as("new_id"), col("nsh").as("nsh_new"))
      .localCheckpoint()

  /** Cross-corpus near-dup pairs of an incoming batch against the
    * INDEXED lake: [[TextDedup.matchesAgainst]]'s semantics — output
    * (new_id, old_id, jaccard ≥ threshold) — with the base side read
    * from the stored postings. The lake's text is never read and never
    * re-shingled (plan-pinned): the probe's cost is the incoming
    * batch's shingling plus a pruned index read.
    *
    * Bucket pruning ([[ShingleIndex.prunedPostings]]): a small crawl
    * batch opens only its matched buckets of the lake index — the same
    * candidates-read story as [[Bm25Index.search]]. */
  def probe(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame =
    // ONE shingle pass over the batch: the bucket-set aggregate and
    // the postings join both reuse the materialized keys
    probeKeyed(keyedBatch(incoming, idCol, textCol), threshold)

  /** [[probe]]'s core over the ALREADY-KEYED batch `(key, new_id,
    * nsh_new)` — split out (r14) so [[survivors]] can shingle the
    * batch once and reuse the checkpointed keys for both the lake
    * probe and the intra-batch pass. */
  private def probeKeyed(inc: DataFrame, threshold: Double): DataFrame = {
    val (base, fits) =
      ShingleIndex.prunedPostings(inc, "key", postings, nBuckets)
    // the lake postings NEVER shuffle: when the batch's keyed shingles
    // fit a broadcast (the normal crawl-vs-lake asymmetry), the join is
    // a map-side hash probe riding the pruned postings scan, and the
    // only exchange left is the candidate-pair aggregation — cost
    // proportional to real overlap, not lake size. An oversized batch
    // falls back to the shuffle join rather than OOMing executors.
    val joined = (if (fits) broadcast(inc) else inc).join(
      base.select(col("key"), col("old_id"), col("nsh").as("nsh_old")),
      "key")
    TextDedup.verifyJaccard(joined, "new_id", "nsh_new", "old_id", "nsh_old",
      threshold)
  }

  /** Index-routed [[TextDedup.incrementalSurvivors]]: incoming rows
    * with no near-dup in the indexed lake, min-id-deduped within the
    * batch itself. Intra-batch pairing is [[TextDedup
    * .ngramJaccardPairs]] over the (small) batch only — the lake side
    * comes entirely from [[probe]].
    *
    * `excludeSelf = true` ignores lake matches whose `old_id` is one of
    * the batch's OWN ids — the replay-safety switch for streaming
    * ingest: if a crashed attempt already appended this batch's
    * shingles, a recompute would otherwise see every row as a dup of
    * itself in the lake and deliver an empty (wrong) survivor set.
    * With self-exclusion the recompute is deterministic regardless of
    * whether the append landed (batch ids never legitimately collide
    * with lake ids — the `_ranges` overlap guard enforces exactly
    * that). One extra anti-join against the (small, broadcast) batch
    * id set; off by default for the pure-batch path. */
  def survivors(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      excludeSelf: Boolean = false): DataFrame = {
    // ONE shingle pass for BOTH tiers (r14): the lake probe and the
    // intra-batch pass share the checkpointed keyed set — the intra
    // self-join then shuffles 8-byte hashed keys instead of
    // re-shingling the batch and shuffling shingle strings (~40% of
    // the per-crawl survivors cost at the sf0.1 shape)
    val inc = keyedBatch(incoming, idCol, textCol)
    val matches = probeKeyed(inc, threshold)
    val vsLake = if (!excludeSelf) matches
      else matches.join(
        broadcast(incoming.select(col(idCol).cast("long").as("__self"))),
        matches("old_id").cast("long") === col("__self"), "left_anti")
    // materialized (r17 optimization round): vsBase feeds TWO
    // downstream anti-joins (`fresh` and `freshKeyed`), and without
    // the checkpoint each one re-executes the whole lake-probe chain
    // (pruned postings scan + broadcast join + pair aggregate) to
    // build its broadcast side — the probe ran twice per survivors
    // call. vsBase is bounded by the batch's id count, so the
    // materialization is tiny; the probe now executes exactly once.
    val vsBase = vsLake.select(col("new_id").as(idCol)).distinct()
      .localCheckpoint()
    val fresh = incoming.join(vsBase, Seq(idCol), "left_anti")
    val freshKeyed = inc
      .join(broadcast(vsBase.select(col(idCol).as("__dup"))),
        inc("new_id") === col("__dup"), "left_anti")
      .select(col("key"), col("new_id").as("id"),
        col("nsh_new").as("nsh"))
    val intra = TextDedup.ngramJaccardPairsKeyed(freshKeyed, threshold)
    TextDedup.keepRepresentatives(fresh, idCol, intra)
  }

  /** Append a batch's shingles into their bucket partitions — the
    * accepted-crawl path (existing files untouched; the lake is never
    * re-shingled). Same docid-range overlap guard as
    * [[Bm25Index.append]]: re-appending an indexed doc would double
    * its postings; `force = true` takes that risk knowingly. Repeated
    * appends leave one small file per batch per touched bucket —
    * [[compact]] during maintenance windows. */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      force: Boolean = false): ShingleIndex = {
    val Array(st) = docs
      .agg(count(col(idCol)).as("n"),
        min(col(idCol).cast("long")).as("lo"),
        max(col(idCol).cast("long")).as("hi"))
      .collect()
    val nNew = st.getLong(0)
    if (nNew == 0L) return this
    require(!st.isNullAt(1),
      s"shingle append: every value of id column '$idCol' casts to null")
    val (lo, hi) = (st.getLong(1), st.getLong(2))
    // the INTENDED range is claimed BEFORE the postings write: a crash
    // (or task retry of this driver step) between the two leaves a range
    // claim with missing postings, so a blind re-run of the same batch
    // FAILS the overlap guard loudly — repair is explicit (re-append the
    // named range with force=true, or remove its _ranges row) instead of
    // the old ordering's silent posting-doubling. Stats stay last: a
    // crash before them only undercounts nDocs (cosmetic).
    RangeLedger.claim(spark, path, "shingle append", lo, hi, force)
    // repartition ON the bucket (r14): without it every shuffle task
    // writes its own sliver into every bucket dir it holds rows for —
    // tasks x buckets small files PER APPEND (measured 2k+ files per
    // 10k-doc batch), which is the fragmentation the compact cadence
    // then has to clean. One small shuffle of the batch's postings
    // buys one file per touched bucket per append.
    graft.index.Manifests.appendGeneration(spark, path, family,
      postingRows(docs, idCol, textCol))
    ShingleIndex.writeStats(spark, path, nDocs + nNew, ngram, nBuckets,
      hashKeys)
    new ShingleIndex(spark, path, nDocs + nNew, ngram, nBuckets, hashKeys)
  }

  /** Replay-safe [[appendBatch]]: if the batch's EXACT id range is
    * already recorded in `_ranges`, the append is SKIPPED (a previous
    * attempt claimed it) instead of throwing — the idempotent form the
    * streaming ingest path retries through. The skip window where the
    * range landed but the postings write crashed is detectable
    * ([[missingRanges]]) and repairable ([[reconcile]]); a PARTIAL
    * overlap still throws, because that is never a replay.
    *
    * Unlike [[Bm25Index.appendIfAbsent]] (r15), the blind skip here
    * does NOT carry a stats-finish protocol — deliberately: the BM25
    * lake's (n, Σdl) are SCORE-BEARING, so its
    * postings-landed-stats-crashed window permanently shifted every
    * score and needed the `_stats_pending` flag; this lake's only
    * mutable stat is `nDocs`, which no probe or survivor read ever
    * consults (Jaccard is per-pair, the df cap is computed from the
    * merged postings at probe time) — the same window here
    * undercounts a display count until the next build/compact, which
    * is the documented cosmetic trade of [[appendBatch]]'s
    * stats-last ordering. */
  def appendBatchIfAbsent(
      docs: DataFrame, idCol: String, textCol: String): ShingleIndex = {
    val Array(st) = docs
      .agg(min(col(idCol).cast("long")).as("lo"),
        max(col(idCol).cast("long")).as("hi"))
      .collect()
    if (st.isNullAt(0)) return this // empty batch: nothing to claim
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    if (RangeLedger.replayed(spark, path, "shingle append", lo, hi)) this
    else appendBatch(docs, idCol, textCol)
  }

  /** Ranges recorded in `_ranges` with NO postings on disk — the
    * footprint of a crash between [[appendBatch]]'s range claim and its
    * postings write. One pruned pass over the postings (broadcast
    * range-interval join, lake never shuffles). */
  def missingRanges(): Seq[(Long, Long)] =
    RangeLedger.missing(spark, path, postings, "old_id")

  /** Repair [[missingRanges]] from a recovery corpus (e.g. the
    * delivered-survivors store the streaming path writes BEFORE it
    * appends): re-shingles only the missing ranges' rows and lands
    * their postings under the already-claimed ranges. No-op when
    * nothing is missing. */
  def reconcile(
      recovery: DataFrame, idCol: String, textCol: String): ShingleIndex = {
    val missing = missingRanges()
    if (missing.isEmpty) return this
    val inRange = missing
      .map { case (lo, hi) => col(idCol).cast("long").between(lo, hi) }
      .reduce(_ || _)
    val docs = recovery.filter(inRange)
    val nNew = docs.count()
    graft.index.Manifests.appendGeneration(spark, path, family,
      postingRows(docs, idCol, textCol))
    ShingleIndex.writeStats(spark, path, nDocs + nNew, ngram, nBuckets,
      hashKeys)
    new ShingleIndex(spark, path, nDocs + nNew, ngram, nBuckets, hashKeys)
  }

  /** The full per-crawl ingest step: gate the batch against the lake
    * and itself ([[survivors]]), then index the accepted rows so the
    * NEXT crawl dedups against them too. The survivor set is
    * materialized (localCheckpoint) BEFORE the append mutates storage —
    * the returned DataFrame must not lazily re-read an index that now
    * contains the batch itself. Returns (survivors, grown index). */
  def ingest(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): (DataFrame, ShingleIndex) = {
    val surv = survivors(incoming, idCol, textCol, threshold)
      .localCheckpoint()
    (surv, appendBatch(surv, idCol, textCol))
  }
}

object ShingleIndex {

  /** Sentinel default: derive the bucket count from the corpus's
    * shingle volume via [[Bm25Index.autoBuckets]] (same cube-root rule;
    * a shingle posting and a term posting are the same storage unit). */
  val AutoBuckets: Int = 0

  /** Largest keyed-shingle row count [[ShingleIndex.probe]] will
    * broadcast (~20 B/row → ≤ ~100 MB hashed relation per executor —
    * the standard "dimension fits memory" budget). Above it the probe
    * degrades to a shuffle join instead of risking executor OOM. */
  val MaxBroadcastKeys: Long = 4000000L

  /** The bucket-pruned read of a lake's `postings` (partitioned by
    * `bucket = pmod(hash(key), nBuckets)`) for a materialized probe
    * batch keyed by `key`: ONE bounded aggregate (≤ nBuckets rows)
    * yields both the batch's bucket set and its key count. A batch
    * that touches every bucket skips the `isin` filter (it would prune
    * nothing). Returns the pruned postings and whether the batch fits
    * the [[MaxBroadcastKeys]] budget. The shingle and winnow probes
    * share it. */
  private[operators] def prunedPostings(batch: DataFrame, key: String,
      postings: DataFrame, nBuckets: Int): (DataFrame, Boolean) = {
    val bStats = batch
      .groupBy(pmod(hash(col(key)), lit(nBuckets)).as("b"))
      .agg(count(lit(1)).as("n")).collect()
    val bSet = bStats.map(_.getInt(0))
    val pruned = if (bSet.length < nBuckets)
      postings.filter(col("bucket").isin(bSet.map(Integer.valueOf).toSeq: _*))
    else postings
    (pruned, bStats.map(_.getLong(1)).sum <= MaxBroadcastKeys)
  }

  /** Bucket-partitioned, key-sorted postings (a probe row-group-skips
    * on key min/max inside its buckets). A settled merge writes the
    * post-merge stats row into `_stats`. */
  private[operators] val Storage: graft.index.Manifests.Family =
    new graft.index.Manifests.Family("bucket", "key") {
      override def settle(spark: SparkSession, path: String,
          srcs: Seq[String], stats: Seq[Long]): Unit =
        writeStats(spark, path, stats(0), stats(1).toInt, stats(2).toInt,
          stats(3) == 1L)
    }

  private def writeStats(spark: SparkSession, path: String, nDocs: Long,
      ngram: Int, nBuckets: Int, hashKeys: Boolean): Unit = {
    import spark.implicits._
    Seq((nDocs, ngram, nBuckets, hashKeys))
      .toDF("n_docs", "ngram", "n_buckets", "hash_keys")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
  }

  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      ngram: Int = 3,
      nBuckets: Int = AutoBuckets,
      hashKeys: Boolean = true): ShingleIndex = {
    val spark = docs.sparkSession
    // stats pass first (and the empty guard BEFORE the postings write
    // mutates the target path), over the kernel the postings use; the
    // shingle lineage runs twice — once aggregated, once exploded —
    // which a one-time build affords
    val sets =
      if (hashKeys) TextDedup.hashedShingles(docs, idCol, textCol, ngram)
      else TextDedup.shingles(docs, idCol, textCol, ngram)
    val Array(st) = sets
      .agg(count(lit(1)).as("n"), sum(col("nsh")).as("tot"),
        min(col("id").cast("long")).as("lo"),
        max(col("id").cast("long")).as("hi"))
      .collect()
    require(st.getLong(0) > 0,
      s"shingle index: no shinglable docs, refusing to build $path")
    require(!st.isNullAt(2),
      s"shingle index: every value of id column '$idCol' casts to null")
    val nb = if (nBuckets == AutoBuckets) Bm25Index.autoBuckets(st.getLong(1))
      else nBuckets
    // a rebuild over an existing path replaces the index whole (r17:
    // explicit reset so the manifest store restarts at generation 1)
    graft.index.Manifests.reset(spark, path)
    val idx = new ShingleIndex(spark, path, 0L, ngram, nb, hashKeys)
    graft.index.Manifests.writeGeneration(spark, path, Storage,
      idx.postingRows(docs, idCol, textCol), None, Nil, None)
    writeStats(spark, path, st.getLong(0), ngram, nb, hashKeys)
    RangeLedger.record(spark, path, (st.getLong(2), st.getLong(3)))
    new ShingleIndex(spark, path, st.getLong(0), ngram, nb, hashKeys)
  }

  /** Open an index: roll an interrupted shard merge forward, then read
    * `_stats` on the driver. */
  def load(spark: SparkSession, path: String): ShingleIndex = {
    graft.index.Manifests.completeMerge(spark, path, Storage)
    val st = graft.index.Manifests.readStats(spark, path)
    new ShingleIndex(spark, path, st.getLong("n_docs", 0),
      st.getInteger("ngram", 0), st.getInteger("n_buckets", 0),
      st.getBoolean("hash_keys", 0))
  }
}
