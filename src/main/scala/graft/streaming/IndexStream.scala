package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.VectorIndex

/** Continuous vector-index ingestion: a streaming DataFrame of
  * (uid, vector, …props) rows lands in a [[VectorIndex]] micro-batch by
  * micro-batch via `foreachBatch` — the Structured Streaming shape of
  * the reference's request/response add-objects path (weaviate.py:135-149
  * handles one HTTP batch at a time; here the batches arrive from any
  * streaming source with checkpointed progress).
  *
  * Delivery semantics are explicit, not accidental:
  *  - `upsert` (default): idempotent on `uid` under micro-batch REPLAY
  *    (a batch re-run after a failure rewrites the same uids last-wins),
  *    i.e. effectively-once for the searchable state.
  *  - `append`: cheapest path — O(batch) per batch. Replays of
  *    RECORDED batches are skipped via the [[BatchLedger]] sidecar.
  *    The ledger row lands AFTER the append (there is no claim-first
  *    range guard here, unlike `ShingleIndex.appendBatchIfAbsent`),
  *    so a crash between the append and the record — not just one
  *    mid-append — still double-appends on replay; reconcile with a
  *    maintenance upsert/compact, or use `upsert` for strict
  *    idempotence.
  *
  * COST, stated plainly: the index is copy-on-write versioned parquet,
  * so `upsert` rewrites the current data version EVERY micro-batch —
  * per-batch work is O(index), not O(batch). That is the right trade
  * for modest indexes or coarse triggers (the rewrite IS what buys
  * replay idempotence on this storage); for high-rate ingest at large
  * index sizes, run `append` (O(batch) per batch, files accumulate
  * per [[graft.index.VectorIndex.compact]]) and reconcile duplicates
  * downstream or with a periodic batch `upsert` during maintenance —
  * a merge-on-read delta log is deliberately out of scope. Append-mode
  * state never re-shuffles existing data. Checkpointing is the
  * standard Structured Streaming contract — the stream resumes from
  * the last committed source offsets after a crash.
  *
  * Every sink here hands its effect to the one delivery step,
  * [[Delivery]]: un-quiesce at entry, the [[BatchLedger]] replay skip,
  * the record after the effect, and the `compactEvery` cadence. */
object IndexStream {

  /** Start ingesting `docs` (a STREAMING DataFrame with the index row
    * shape) into `index`. Returns the running [[StreamingQuery]];
    * `q.processAllAvailable()` drains it in tests, `q.awaitTermination()`
    * serves it in production. */
  def ingest(
      docs: DataFrame,
      index: VectorIndex,
      checkpointDir: String,
      mode: String = "upsert",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    require(docs.isStreaming, "IndexStream.ingest needs a streaming DataFrame")
    require(mode == "upsert" || mode == "append",
      s"unknown ingest mode '$mode' (expected upsert|append)")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // append mode keys on the batch id: a replayed COMMITTED batch
        // is skipped instead of double-appending (upsert is naturally
        // idempotent and keeps no ledger). The ledger sits at the
        // STABLE index root (dataDir moves per version)
        val ledger = if (mode == "append") Some(checkpointDir) else None
        Delivery(batch.sparkSession, index.path, ledger, batchId) {
          if (batch.isEmpty) None
          else {
            // first batch into an empty index bootstraps it (docids
            // from 0)
            if (!index.exists) index.index(batch)
            else if (mode == "upsert") index.upsert(batch)
            else index.append(batch)
            Some(())
          }
        }
        () // Unit: the scala-2.13 foreachBatch overload is Unit-typed
      }
      .start()
  }

  /** Continuous ingestion into a cluster-partitioned
    * [[graft.index.IvfVectorIndex]]: each micro-batch is assigned with
    * the STORED codebook (PQ-coded when the index carries codes) and
    * appended into its cluster partitions — O(batch) per batch, no
    * rewrite; the pruning contract never changes mid-stream.
    * Replays of committed batches are skipped via the [[BatchLedger]]
    * sidecar; a crash mid-append can still duplicate — pair with
    * upstream exactly-once sources or downstream id dedup; periodic
    * [[graft.index.IvfVectorIndex.compact]] absorbs the per-batch
    * small files during maintenance windows.
    *
    * IN-STREAM RETRAIN (r15) / GROW (r16): `retrainEvery = N` closes
    * the drift loop inside the stream — every N delivered batches the
    * batch is drift-scored against the lake
    * ([[graft.operators.Ivf.drift]]: two map passes + bounded
    * aggregates), and flagged clusters (incoming `drift_frac` ≥
    * `driftFrac` AND incoming share ≥ `minShare` of the batch) get
    * the response the report's SHAPE calls for: a cluster whose
    * incoming mean cosine collapsed below `growMeanRatio ×` its
    * reference mean holds NOVEL mass — the codebook GROWS a new cell
    * for it ([[graft.index.IvfVectorIndex.growClusters]], frozen-book
    * capture, measured recall ≥ no-maintenance where relocation
    * measured BELOW it); mid-band drift keeps the relocate response
    * ([[graft.index.IvfVectorIndex.retrainInPlace]] — staged,
    * crash-safe, partition-pruned). Running the maintenance INSIDE
    * `foreachBatch` is the concurrency design, not a convenience:
    * micro-batch callbacks are serialized by Structured Streaming, so
    * the retrain's partition swap can never interleave with an
    * in-flight append of the same stream — the "generation swap vs
    * append" race is excluded by construction rather than locked
    * around, and later batches assign with the PATCHED codebook the
    * retrain returned (the stream tracks the live index through the
    * maintenance, exactly like a caller of retrainInPlace must).
    * Out-of-band writers remain excluded — same single-writer
    * contract as every lake; concurrent READERS are snapshot-safe
    * (r17 manifest storage).
    *
    * SUSTAINED drift (r17): grow adds one cell per flagged cluster
    * per epoch and never retires one, so a corpus whose modes keep
    * moving grows k without bound — `maxCells > 0` caps it: a grow
    * that would cross the cap becomes a REBUILD re-fitting the SEED
    * cell budget to the whole lake ([[graft.index.IvfVectorIndex
    * .rebuild]] — dead cells retire, k resets, sidecars and the
    * replay ledger survive). Query-side, dead cells are already
    * costless: [[graft.index.IvfVectorIndex.search]] ranks probes
    * over OCCUPIED cells only. Measured trajectory (k, recall, epoch
    * cost, cumulative grow vs one rebuild) over ten drift epochs:
    * BASELINE.md "Round-17: SUSTAINED drift".
    *
    * `compactEvery` is [[Delivery.compacting]]'s cadence, after the
    * drift response: under manifest storage every delivered batch
    * commits one generation, so an uncompacted long-running stream
    * grows the snapshot's file count AND the manifest part-list
    * linearly with batches (per-query listing cost, measured:
    * BASELINE.md "Round-17: the MANIFEST TAIL of an uncompacted ingest
    * stream"). `0` (default) leaves compaction to offline
    * maintenance. */
  def ingestIvf(
      docs: DataFrame,
      index: graft.index.IvfVectorIndex,
      vecCol: String,
      idCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      retrainEvery: Int = 0,
      driftFrac: Double = 0.5,
      minShare: Double = 0.05,
      growMeanRatio: Double = 0.5,
      maxCells: Int = 0,
      compactEvery: Int = 0): StreamingQuery = {
    require(docs.isStreaming, "IndexStream.ingestIvf needs a streaming DataFrame")
    // the stream's view of the index survives retrains: retrainInPlace
    // returns the index with the PATCHED codebook, and appends after a
    // retrain must assign with it (foreachBatch is serialized, so the
    // var is only ever touched by one in-flight batch)
    var live = index
    // the SEED cell budget — what the operator sized the index at.
    // `maxCells > 0` bounds sustained-drift growth (r17, the measured
    // policy: BASELINE.md "Round-17: SUSTAINED drift"): when a grow would push
    // k past the bound, the stream REBUILDS instead — one re-fit of
    // the seed budget over everything the lake now holds, resetting k
    // and retiring dead cells, instead of an ever-longer codebook
    // paying an ever-larger per-row assignment cost.
    val seedK = index.model.centroids.length
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Delivery.compacting[graft.index.IvfVectorIndex](batch.sparkSession,
          live.path, checkpointDir, batchId, compactEvery,
          maintain = idx =>
            if (retrainEvery > 0 && (batchId + 1) % retrainEvery == 0)
              respondToDrift(idx, batch, vecCol, seedK, driftFrac,
                minShare, growMeanRatio, maxCells)
            else idx) {
          if (batch.isEmpty) None else Some(live.append(batch, vecCol, idCol))
        }.foreach(live = _)
      }
      .start()
  }

  /** The IVF sink's drift response, run after a delivered batch is
    * recorded: drift-score `batch` against the lake and respond per
    * flagged cluster — GROW a cell for novel mass (or REBUILD at the
    * seed budget when a grow would cross `maxCells`), relocate for
    * mid-band drift. Returns the index with the codebook later
    * batches must assign with. */
  private def respondToDrift(
      idx: graft.index.IvfVectorIndex,
      batch: DataFrame,
      vecCol: String,
      seedK: Int,
      driftFrac: Double,
      minShare: Double,
      growMeanRatio: Double,
      maxCells: Int): graft.index.IvfVectorIndex = {
    import org.apache.spark.sql.functions.{col, lit}
    var live = idx
    val report = graft.operators.Ivf.drift(
      live.df.withColumnRenamed("vector", vecCol), batch, vecCol, live.model)
    // flag on drift_frac AND incoming mass share (r15, BASELINE.md
    // "Round-15: IVF retrain-in-place recall probe"): frac alone also
    // flags low-mass clusters a few strays landed in, and retraining
    // those moves their centroids toward the strays — queries then
    // probe the refined strays-cluster while the actual drifted mass
    // sits in an unretrained one, COSTING recall (measured 0.56 → 0.24
    // @ nprobe=1). Retrain only where a meaningful share of the batch
    // actually lives.
    val batchN = math.max(1L, batch.count())
    val drifted = report
      .filter(col("n_new") >= lit(minShare * batchN) &&
        col("drift_frac") >= driftFrac)
      .select("cluster", "ref_mean_cos", "new_mean_cos")
      .collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .toSeq
    // choose the RESPONSE from the report's shape (r16, the r15/r16
    // probe's finding): NOVEL mass sits far outside the cluster's own
    // tightness — its incoming mean cosine collapses relative to the
    // reference mean (measured ~0.2 vs ~0.65 for new modes, ~0.68 vs
    // ~0.75 for a gradual shift of the cluster's own mass). Moving a
    // centroid toward novel mass costs recall even mass-gated (0.564
    // no-maintenance vs 0.413 relocated @ nprobe=1, BASELINE r15) —
    // GROW new cells for it (frozen-book capture, recall-safe by
    // construction); keep the relocate response for mid-band drift,
    // where the cluster's own mass is what moved. A cluster with no
    // reference mass at all is novel by definition.
    val (novel, moved) = drifted.partition { case (_, rm, nm) =>
      rm.isNaN || nm < growMeanRatio * rm
    }
    var rebuilt = false
    if (novel.nonEmpty) {
      val k0 = live.model.centroids.length
      if (maxCells > 0 && k0 + novel.size > maxCells) {
        // the bound says stop growing: re-fit the seed budget to the
        // whole lake (dead cells retire, novel modes get first-class
        // cells, k resets to seedK)
        val refit = graft.operators.Ivf.trainDistributed(
          live.df, "vector", k = seedK, iters = 5)
        live = live.rebuild(refit)
        rebuilt = true
      } else
        live = live.growClusters(novel.map(_._1), add = novel.size)
    }
    // after a rebuild the report's cluster ids belong to the retired
    // book — and the re-fit already re-homed the moved mass, so the
    // relocate response is moot
    if (moved.nonEmpty && !rebuilt)
      live = live.retrainInPlace(moved.map(_._1))
    live
  }

  /** Continuous ingestion into a BUCKET-partitioned LSH index
    * ([[ingestIvf]]'s twin, r17 — the last persisted index family
    * without a stream sink). Much simpler than the IVF sink by
    * design: the hyperplanes are immutable for the life of the index
    * (the pruning contract — [[graft.index.LshVectorIndex.append]]
    * bucketizes with the STORED planes), so there is NO drift
    * maintenance, no grow/relocate policy, no codebook lifecycle —
    * data-distribution shift costs LSH balance, not correctness, and
    * rebalancing means building a new index, an offline decision.
    * What remains is exactly the ingest contract of [[Delivery]]:
    * [[BatchLedger]] replay protection (at-least-once delivery,
    * effects-once), the quiesce handshake, and the `compactEvery`
    * cadence against the same measured manifest tail as
    * [[ingestIvf]]. Maintenance runs inside the serialized
    * `foreachBatch`, so fold-vs-append races are excluded by
    * construction; concurrent readers are snapshot-pinned (r17
    * manifest storage). */
  def ingestLsh(
      docs: DataFrame,
      index: graft.index.LshVectorIndex,
      vecCol: String,
      idCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0): StreamingQuery = {
    require(docs.isStreaming, "IndexStream.ingestLsh needs a streaming DataFrame")
    var live = index
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Delivery.compacting[graft.index.LshVectorIndex](batch.sparkSession,
          live.path, checkpointDir, batchId, compactEvery) {
          if (batch.isEmpty) None else Some(live.append(batch, vecCol, idCol))
        }.foreach(live = _)
      }
      .start()
  }

  /** Continuous KEYWORD-index ingestion — the BM25 lake kept fresh by
    * the crawl stream, completing the sink triangle ([[ingest]]:
    * vectors, [[graft.streaming.IngestStream]]: the dedup lake, this:
    * the postings lake). Each micro-batch appends its postings via
    * [[graft.operators.Bm25Index.appendIfAbsent]] — the claim-FIRST
    * replay-safe append — so delivery is exactly-once-effective under
    * foreachBatch retries through two independent guards: the
    * [[BatchLedger]] short-circuit, and the `_ranges` exact-claim
    * check that holds even if the ledger record itself crashed. Since
    * r15 the exact-claim path FINISHES an interrupted append rather
    * than blind-skipping (the `_stats_pending` flag tells a committed
    * append from a crashed one), so a replayed batch repairs both the
    * missing-postings and the missing-stats windows in place;
    * `missingRanges`/`reconcile` remain the out-of-band repair when
    * the stream itself is gone.
    *
    * `compactEvery`/`compactSlack` — [[Delivery.compacting]]'s
    * cadence. Scoring correctness does not depend on it — df/n/Σdl
    * are exact at every point — only probe cost does. */
  def ingestKeyword(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      compactSlack: Double = 16.0,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    require(docs.isStreaming,
      "IndexStream.ingestKeyword needs a streaming DataFrame")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        keywordBatch(batch, batchId, textCol, idCol, indexPath,
          streamId = checkpointDir, compactEvery = compactEvery,
          compactSlack = compactSlack)
      }
      .start()
  }

  /** One keyword micro-batch delivery, idempotent on `batchId` —
    * exposed so specs (and backfills) can drive a replay directly. */
  def keywordBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      indexPath: String,
      streamId: String = "default",
      compactEvery: Int = 0,
      compactSlack: Double = 16.0): Unit = {
    val spark = batch.sparkSession
    Delivery.compacting[graft.operators.Bm25Index](spark, indexPath,
      streamId, batchId, compactEvery, compactSlack) {
      // bootstrap a FRESH lake when none exists (r17): the first-ever
      // delivery, or — the documented merge lifecycle — a checkpoint
      // restarted against a shard path the merge renamed away and
      // deleted: the restart re-delivers from its offsets into a
      // fresh, unmerged lake here and never touches the merged
      // destination. An empty batch into an existing lake is
      // recorded; with no lake there is nothing to bootstrap from.
      val statsP = new org.apache.hadoop.fs.Path(indexPath, "_stats")
      val lakeFs = statsP.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!lakeFs.exists(statsP)) {
        if (batch.isEmpty) None
        else Some(graft.operators.Bm25Index.build(
          batch, textCol, idCol, indexPath))
      } else Some(graft.operators.Bm25Index.load(spark, indexPath)
        .appendIfAbsent(batch, textCol, idCol))
    }
    ()
  }

  /** Drain and retire a lake's ingest stream ahead of a shard merge
    * (r16): process whatever the source already holds, stop the
    * query, then write the [[Quiesce]] marker the merge guard
    * ([[graft.operators.IndexMerge.requireQuiesced]]) demands of
    * every stream-fed participant. Order matters — the marker lands
    * strictly AFTER the last batch's effects, so it can never coexist
    * with an in-flight append of this stream; a later RESTART of the
    * stream clears it again at batch entry. */
  def stopAndQuiesce(query: StreamingQuery,
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit = {
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()
    Quiesce.mark(spark, indexPath)
  }

  /** Raw-TEXT ingestion: batch-encode `textCol` into the `vector`
    * column through the S6 encoder seam (distributed mapPartitions,
    * [[graft.TextEncoder.encodeColumn]]), then ingest. The default
    * encoder is the in-repo model-free [[graft.HashingEncoder]]; a real
    * model drops in as any serializable `String => Array[Float]`. */
  def ingestText(
      docs: DataFrame,
      textCol: String,
      index: VectorIndex,
      checkpointDir: String,
      encoder: String => Array[Float] = graft.HashingEncoder(64),
      mode: String = "upsert",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    ingest(
      graft.TextEncoder.encodeColumn(docs, textCol, "vector", encoder),
      index, checkpointDir, mode, trigger)

  /** Raw-MEDIA ingestion — the crawl shape: a stream of binary blobs is
    * feature-extracted by the REAL decoders
    * ([[graft.operators.Multimodal.extractFeatures]]: PNG/JPEG
    * luminance histograms, byte-sum head for other formats) and lands
    * in the index continuously. The decode is a stateless codegen'd
    * expression, so the streaming micro-batch plan is the batch plan —
    * no state store, no watermark (streamed==batch spec-pinned). The
    * binary column itself is dropped before the sink (the index keeps
    * uid + vector + remaining props; blob storage stays with the
    * source), and undecodable-null blobs are filtered, never thrown
    * on. */
  def ingestMedia(
      docs: DataFrame,
      mediaCol: String,
      index: VectorIndex,
      checkpointDir: String,
      dim: Int = 64,
      mode: String = "upsert",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val withVec = graft.operators.Multimodal
      .extractFeatures(docs, mediaCol, dim)
      .withColumnRenamed("features", "vector")
      .filter(col("vector").isNotNull)
      .drop(mediaCol)
    ingest(withVec, index, checkpointDir, mode, trigger)
  }
}
