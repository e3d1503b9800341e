package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ShingleIndex, SimHash}

/** Continuous crawl ingest with BOTH dedup tiers — the end-to-end
  * composition of the pieces the batch path already proves:
  *
  *  - tier 1, on the stream itself: the exact-fingerprint gate
  *    ([[graft.operators.SimHash.filterAgainstExact]]) against the
  *    static base corpus — a stream-static left-anti equi-join, no
  *    state, append-mode legal, so exact and token-reshuffled dups of
  *    the base never even reach a micro-batch;
  *  - tier 2, per micro-batch (`foreachBatch`): near-dup survivors
  *    against the GROWING persisted lake ([[processBatch]]) — each
  *    batch probes the stored inverted shingle index, keeps min-id
  *    representatives within itself, delivers its accepted rows, and
  *    indexes their shingles so the NEXT micro-batch dedups against
  *    them. The lake corpus is never re-shingled.
  *
  * Streamed == batch (spec-enforced): the accepted set equals folding
  * the same micro-batches through `filterAgainstExact` + `ingest`
  * sequentially.
  *
  * Delivery semantics: EXACTLY-ONCE-EFFECTIVE under Spark's
  * at-least-once foreachBatch retries, keyed on the micro-batch id
  * (each batch runs through the shared delivery step, [[Delivery]]):
  *
  *  1. a `_batches` sidecar next to the index records every batch id
  *     whose delivery fully committed (keyed by stream id = the
  *     checkpoint location, so a NEW stream into the same store never
  *     collides) — a replayed id returns immediately;
  *  2. survivors are recomputed with [[ShingleIndex.survivors]]'s
  *     `excludeSelf` switch, so the recompute is deterministic even
  *     when the crashed attempt already appended this batch's
  *     shingles (without it, every row would look like a dup of
  *     itself in the lake and the replay would deliver nothing);
  *  3. survivors land in a batch-keyed partition directory
  *     (`out/batch=<id>`, mode overwrite) BEFORE the index append — a
  *     replay overwrites the same files with the same rows instead of
  *     appending duplicates, and a crash after the append can never
  *     strand accepted rows outside the store;
  *  4. the index append is [[ShingleIndex.appendBatchIfAbsent]] — a
  *     range already claimed by the crashed attempt is skipped, not
  *     re-appended (no double postings) and not an error (no stuck
  *     stream). The one skip window (range claimed, postings write
  *     crashed) is detectable afterwards with
  *     [[ShingleIndex.missingRanges]] and repairable from the
  *     delivered store with [[ShingleIndex.reconcile]].
  */
object IngestStream {

  /** Sentinel for `compactEvery`: derive the compaction cadence from
    * the lake's own fragmentation instead of a caller-pinned batch
    * count — after each delivered batch, compact iff
    * [[ShingleIndex.shouldCompact]] (file count > slack × the ideal
    * layout; `compactSlack` overrides the measured default). With the
    * r14 bucket-repartitioned writes each append adds exactly one
    * file per touched bucket, so the default calibration fires every
    * ~16 batches — and almost immediately on a legacy
    * sliver-fragmented lake, where files accumulate 32× faster
    * (both curves measured, BASELINE.md r14). */
  val AutoCompact: Int = -1

  /** Start the two-tier ingest query. `indexPath` must hold an
    * already-built [[ShingleIndex]] over `base` (the one-time lake
    * build); accepted rows land in `outPath/batch=<id>` partitions
    * (readable as one parquet table at `outPath`).
    *
    * Gate semantics — START-TIME SNAPSHOT of the base: the static
    * side's fingerprints are materialized once (localCheckpoint)
    * before the stream starts, so rows added to the base corpus
    * AFTER `ingestQuery` returns are NOT gated against — by design:
    * the growing side of the dedup is the lake index (tier 2), which
    * every micro-batch reloads; the base is the immutable historical
    * corpus. Re-run `ingestQuery` to re-snapshot a changed base.
    *
    * Fault scope: `localCheckpoint` blocks live in executor storage —
    * lost executors lose blocks, failing a LONG-LIVED query. On a
    * cluster where executor churn is expected over the query's
    * lifetime, swap the pin for `persist(DISK_ONLY)` on a replicated
    * store or a reliable `checkpoint()` (same plan, different
    * storage durability); single-box and bounded-lifetime streams
    * keep the cheaper localCheckpoint. */
  def ingestQuery(
      stream: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      outPath: String,
      threshold: Double,
      checkpoint: String,
      compactEvery: Int = 0,
      compactSlack: Double = 16.0): StreamingQuery = {
    // materialize the gate's static side ONCE (r13): a stream-static
    // join re-executes the whole static subtree per micro-batch, so
    // without this every batch re-fingerprints the full base corpus —
    // the measured per-batch cost driver at the 100k-base probe shape
    // (BASELINE r13; localCheckpoint pins the distinct fingerprint
    // set to executor storage for the life of the query)
    val baseFp = SimHash.baseFingerprints(base, idCol, textCol)
      .localCheckpoint()
    val gated = SimHash.filterAgainstExactFp(baseFp, stream, textCol)
    gated.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, indexPath, outPath,
          threshold, streamId = checkpoint, compactEvery = compactEvery,
          compactSlack = compactSlack)
      }
      .start()
  }

  /** One micro-batch delivery, idempotent on `batchId` — safe to call
    * again with the same id after a crash at ANY point inside it (the
    * scaladoc's four-step protocol). Exposed so specs can drive a
    * replay directly. */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      indexPath: String,
      outPath: String,
      threshold: Double,
      streamId: String = "default",
      compactEvery: Int = 0,
      compactSlack: Double = 16.0): Unit = {
    val spark = batch.sparkSession
    // in-stream lake maintenance (r13): every append leaves one small
    // file per touched bucket, so a long-lived micro-batched stream
    // fragments its own postings; [[Delivery.compacting]] folds them
    // at batch boundaries inside the single writer, after the ledger
    // records the delivery
    Delivery.compacting[ShingleIndex](spark, indexPath, streamId, batchId,
      compactEvery, compactSlack) {
      // reload per batch: cheap (one sidecar row) and always
      // consistent with the appends earlier batches made
      val idx = ShingleIndex.load(spark, indexPath)
      val surv = idx
        .survivors(batch, idCol, textCol, threshold, excludeSelf = true)
        .localCheckpoint() // pin BEFORE storage mutates under the plan
      surv.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Some(idx.appendBatchIfAbsent(surv, idCol, textCol))
    }
    ()
  }

  /** Batch ids whose delivery fully committed ([[BatchLedger]]). */
  def deliveredBatches(spark: SparkSession, indexPath: String,
      streamId: String = "default"): Set[Long] =
    BatchLedger.delivered(spark, indexPath, streamId)

  /** The batch twin of one micro-batch step, for parity checks and
    * backfills: gate against the base, ingest against the lake index. */
  def ingestBatch(
      batch: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
      idx: ShingleIndex,
      threshold: Double): (DataFrame, ShingleIndex) = {
    val gated = SimHash.filterAgainstExact(base, batch, idCol, textCol)
    idx.ingest(gated, idCol, textCol, threshold)
  }
}
