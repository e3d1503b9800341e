package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.index.ManifestIndex

/** The one micro-batch delivery step every streaming sink runs inside
  * `foreachBatch`; a sink supplies only its effect. In order:
  *
  *  1. [[Quiesce.clear]] at entry, before any effect lands, so a
  *     concurrent shard merge refuses the store instead of racing it;
  *  2. the [[BatchLedger]] replay skip: a batch id the stream already
  *     recorded returns without running the effect;
  *  3. the effect — `Some(result)` when it delivered, `None` when there
  *     was nothing to deliver (the batch is then not recorded);
  *  4. the ledger record, as the delivery's last step;
  *  5. for the manifest-index sinks ([[compacting]]), the sink's own
  *     post-record maintenance and then one compaction cadence.
  *
  * Recording after the effect closes foreachBatch's at-least-once
  * window (a crash after the effects, before the checkpoint commit);
  * a crash inside the effect is each sink's own story (claim-first
  * range guards for the postings lakes, uid upsert for the flat
  * index). */
private[graft] object Delivery {

  /** Steps 1–4. `streamId = None` keeps no ledger: no replay skip and
    * no record (the flat index's upsert mode is idempotent without
    * one). Returns the effect's result, or `None` for a replay. */
  def apply[A](spark: SparkSession, path: String, streamId: Option[String],
      batchId: Long)(effect: => Option[A]): Option[A] = {
    Quiesce.clear(spark, path)
    if (streamId.exists(BatchLedger.delivered(spark, path, _)
        .contains(batchId))) return None
    val out = effect
    if (out.isDefined)
      streamId.foreach(BatchLedger.record(spark, path, _, batchId))
    out
  }

  /** All five steps, for a sink whose effect returns the grown index.
    * After the record, `maintain` runs (the IVF sink's drift response),
    * then the cadence: `compactEvery = N > 0` compacts after every Nth
    * batch id, [[IngestStream.AutoCompact]] compacts when the index's
    * fragmentation crosses `compactSlack` ([[ManifestIndex
    * .shouldCompact]]), `0` leaves compaction to offline maintenance.
    * A kill mid-compact replays as an already-recorded batch; the
    * next cadence point compacts again. Correctness never depends on
    * the cadence. Returns the index after maintenance. */
  def compacting[I <: ManifestIndex[I]](spark: SparkSession, path: String,
      streamId: String, batchId: Long, compactEvery: Int,
      compactSlack: Double = 16.0, maintain: I => I = (i: I) => i)(
      effect: => Option[I]): Option[I] =
    apply(spark, path, Some(streamId), batchId)(effect).map { grown =>
      val live = maintain(grown)
      if (compactEvery == IngestStream.AutoCompact) {
        if (live.shouldCompact(compactSlack)) live.compact() else live
      } else if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        live.compact()
      else live
    }
}
