package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max, min}

/** The `_ranges` docid-claim ledger every index family keeps beside
  * its snapshot: one (lo, hi) row per build, append and merged-in
  * claim. The reference's append contract continues docids and never
  * dedups server-side (weaviate.py:135-149), so re-indexing a doc
  * doubles its postings; the ledger is the memory that turns that
  * into a loud error, tells a replayed streaming batch from a new
  * one, and keeps shard merges disjoint ([[graft.operators.IndexMerge
  * .claimRangesAll]]).
  *
  * Ranges, not exact id sets: O(appends) rows at any corpus size, read
  * on the driver ([[DriverParquet]], no Spark job). Disjoint-range
  * batches, the normal ingest pattern, never false-positive. Each
  * family picks its own crash ordering around [[record]]; this object
  * only owns the format and the checks. */
private[graft] object RangeLedger {

  private def dir(path: String): Path = new Path(path, "_ranges")

  /** Every recorded claim, in ledger order. Empty for an index that
    * predates the ledger (its claims are unknowable). */
  def read(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val d = dir(path)
    if (!d.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(d))
      return Seq.empty
    DriverParquet.groups(spark, d.toString)
      .map(g => (g.getLong("lo", 0), g.getLong("hi", 0)))
  }

  /** Append claims unguarded, in one parquet write however many land. */
  def record(spark: SparkSession, path: String,
      ranges: (Long, Long)*): Unit = {
    import spark.implicits._
    ranges.toDF("lo", "hi")
      .coalesce(1).write.mode("append").parquet(dir(path).toString)
  }

  /** Record the [min, max] of `docs`' ids unguarded — the vector
    * families' build and append step. No-op when every id is null. */
  def recordSpan(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String): Unit = {
    val Array(r) = docs.agg(
      min(col(idCol).cast("long")), max(col(idCol).cast("long"))).collect()
    if (!r.isNullAt(0)) record(spark, path, (r.getLong(0), r.getLong(1)))
  }

  /** The overlap guard: throws when [lo, hi] intersects any of
    * `claims`. `family` prefixes the message. */
  def requireDisjoint(claims: Seq[(Long, Long)], family: String,
      lo: Long, hi: Long): Unit =
    claims.find { case (l, h) => lo <= h && l <= hi }
      .foreach { case (l, h) => throw new IllegalArgumentException(
        s"$family: id range [$lo,$hi] intersects already-indexed " +
        s"[$l,$h] — re-indexing a doc doubles its postings and " +
        "double-counts its stats; docid ranges must stay disjoint " +
        "(an append's force=true skips this check when the overlap " +
        "is intentional)")
      }

  /** The guarded claim: record [lo, hi] unless it intersects a
    * recorded claim (then throw and record nothing); `force` skips
    * the check. */
  def claim(spark: SparkSession, path: String, family: String,
      lo: Long, hi: Long, force: Boolean = false): Unit = {
    if (!force) requireDisjoint(read(spark, path), family, lo, hi)
    record(spark, path, (lo, hi))
  }

  /** The exact-claim replay check of the streaming appends: true when
    * [lo, hi] itself is recorded (a previous attempt owned this
    * batch), false when it is new; a PARTIAL overlap throws — that is
    * never a replay. */
  def replayed(spark: SparkSession, path: String, family: String,
      lo: Long, hi: Long): Boolean = {
    val claims = read(spark, path)
    claims.contains((lo, hi)) || {
      requireDisjoint(claims, family, lo, hi)
      false
    }
  }

  /** Claims with NO row of `postings` in range — the footprint of a
    * crash between a claim-first append's claim and its postings
    * write. One broadcast range-interval join; the postings never
    * shuffle. */
  def missing(spark: SparkSession, path: String, postings: DataFrame,
      idCol: String): Seq[(Long, Long)] = {
    val claimed = read(spark, path)
    if (claimed.isEmpty) return Seq.empty
    import spark.implicits._
    val present = broadcast(claimed.toDF("lo", "hi"))
      .join(postings,
        col(idCol).cast("long").between(col("lo"), col("hi")), "left_semi")
      .select("lo", "hi").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    claimed.filterNot(present)
  }
}
