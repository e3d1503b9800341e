package graft.streaming

import org.apache.spark.sql.SparkSession

/** The delivered-micro-batch ledger shared by the streaming sinks: a
  * tiny `_batches` parquet sidecar (one row per committed batch) next
  * to the target store. Structured Streaming's foreachBatch is
  * at-least-once — the window is a crash AFTER the batch's effects
  * landed but BEFORE the checkpoint commit, which replays the same
  * batchId on restart. Recording the id as the LAST step of the batch
  * and skipping already-recorded ids on entry (both in [[Delivery]])
  * closes exactly that window; a crash in the middle of a batch's
  * effects still needs the sink's own story (range guards +
  * reconcile for [[IngestStream]], uid upsert or compact-time dedup
  * for [[IndexStream]]).
  *
  * Keys are (streamId, batchId) — batch ids restart from 0 for every
  * new checkpoint, so a bare-batchId ledger would silently swallow the
  * first batches of a NEW stream writing into the same store. The
  * stream id is the checkpoint location by convention: unique per
  * logical stream, stable across restarts (which is exactly the
  * replay identity Structured Streaming's own commit log uses).
  *
  * Long-running streams stay O(1): each stream writes under its own
  * `_batches/stream=<hash>/` directory (so `delivered` never lists or
  * reads another stream's files), and `record` folds the directory
  * down to ONE file whenever the per-batch appends reach
  * `CompactEvery`. Compaction is crash-safe by construction because
  * the ledger is a SET: the distinct snapshot is appended as a new
  * file FIRST and the old files deleted after — a crash between the
  * two leaves duplicate rows, which `delivered`'s Set collapses. */
object BatchLedger {

  /** Per-batch files tolerated before `record` folds the stream's
    * directory down to one snapshot file. */
  val CompactEvery = 16

  /** Filesystem-safe per-stream subdirectory (stream ids are
    * checkpoint paths, so they are hashed, not embedded). */
  private def streamDir(storePath: String, streamId: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(streamId.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s"$storePath/_batches/stream=$hex"
  }

  private def listParts(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
  }

  /** Batch ids of `streamId` whose delivery fully committed (read
    * driver-side at batch start; one bounded directory, O(#batches
    * since the last compaction) files). */
  def delivered(spark: SparkSession, storePath: String,
      streamId: String): Set[Long] =
    rows(spark, listParts(spark, streamDir(storePath, streamId))).map(_._2)

  /** Every row of the store's ledger, all streams, as (stream_id,
    * batch_id, stream) — the columns a parquet read of `_batches`
    * discovers (`stream` is the per-stream directory value), read on the
    * driver with no Spark job. */
  def all(spark: SparkSession,
      storePath: String): Seq[(String, Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(s"$storePath/_batches")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { d =>
      val stream = d.getPath.getName.stripPrefix("stream=")
      graft.index.DriverParquet.read(spark, listParts(spark, d.getPath.toString))
        .map(g => (g.getString("stream_id", 0), g.getLong("batch_id", 0), stream))
    }
  }

  /** The distinct (stream_id, batch_id) rows of `parts`, read on the
    * driver ([[graft.index.DriverParquet]]: no Spark job per batch). */
  private def rows(spark: SparkSession,
      parts: Seq[org.apache.hadoop.fs.Path]): Set[(String, Long)] =
    graft.index.DriverParquet.read(spark, parts)
      .map(g => (g.getString("stream_id", 0), g.getLong("batch_id", 0)))
      .toSet

  /** Record a batch as fully delivered (the batch's LAST step), then
    * compact the stream's ledger directory if it has accumulated
    * `compactEvery` per-batch files. */
  def record(spark: SparkSession, storePath: String, streamId: String,
      batchId: Long, compactEvery: Int = CompactEvery): Unit = {
    import spark.implicits._
    val dir = streamDir(storePath, streamId)
    Seq((streamId, batchId)).toDF("stream_id", "batch_id")
      .coalesce(1).write.mode("append").parquet(dir)
    val parts = listParts(spark, dir)
    if (parts.length >= compactEvery) {
      // snapshot-first, delete-after: never a moment without the rows
      rows(spark, parts).toSeq.toDF("stream_id", "batch_id")
        .coalesce(1).write.mode("append").parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      parts.foreach(p => fs.delete(p, false))
    }
  }
}
