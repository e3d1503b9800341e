package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Shim

import graft.SparkTestBase

/** The delivered-batch ledger's growth contract: per-stream
  * directories, compaction folding the per-batch appends down to one
  * snapshot file, and replay-skip semantics surviving every
  * compaction. */
class BatchLedgerSpec extends SparkTestBase {

  private def partFiles(store: String): Int = {
    val root = new java.io.File(s"$store/_batches")
    if (!root.exists()) 0
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).count(_.getName.endsWith(".parquet"))
    }
  }

  test("file count stays bounded across >=3 compactions and the " +
    "delivered set is exact after each") {
    val store = Files.createTempDirectory("graft-ledger").toString
    val stream = "/tmp/checkpoints/ledger-spec"
    val every = 4
    var maxFiles = 0
    (0L until 14L).foreach { id =>
      BatchLedger.record(spark, store, stream, id, compactEvery = every)
      maxFiles = maxFiles max partFiles(store)
      // the invariant the compaction buys: never more than the
      // threshold's worth of per-batch files plus the one snapshot
      assert(partFiles(store) <= every + 1,
        s"ledger grew past the compaction bound at batch $id")
    }
    // 14 records at threshold 4 forces at least 3 fold-downs
    assert(maxFiles <= every + 1)
    assert(partFiles(store) < 14, "no compaction ever ran")
    assert(BatchLedger.delivered(spark, store, stream) ==
      (0L until 14L).toSet)
  }

  test("streams are isolated: one stream's records never surface in " +
    "another's delivered set, before or after compaction") {
    val store = Files.createTempDirectory("graft-ledger-iso").toString
    (0L until 5L).foreach(id =>
      BatchLedger.record(spark, store, "/cp/stream-a", id,
        compactEvery = 3))
    BatchLedger.record(spark, store, "/cp/stream-b", 0L)
    assert(BatchLedger.delivered(spark, store, "/cp/stream-a") ==
      (0L until 5L).toSet)
    assert(BatchLedger.delivered(spark, store, "/cp/stream-b") == Set(0L))
    assert(BatchLedger.delivered(spark, store, "/cp/stream-c").isEmpty)
  }

  test("duplicate rows left by a crash between snapshot-append and " +
    "old-file delete collapse in the delivered set") {
    val store = Files.createTempDirectory("graft-ledger-dup").toString
    // recording the same id twice models exactly the duplicate-row
    // state a mid-compaction crash leaves behind (the ledger is a set)
    BatchLedger.record(spark, store, "/cp/s", 7L)
    BatchLedger.record(spark, store, "/cp/s", 7L)
    BatchLedger.record(spark, store, "/cp/s", 8L)
    assert(BatchLedger.delivered(spark, store, "/cp/s") == Set(7L, 8L))
  }

  test("the delivered set is read on the driver: delivered submits no " +
    "Spark job, before and after a compaction") {
    val store = Files.createTempDirectory("graft-ledger-jobs").toString
    (0L until 3L).foreach(id =>
      BatchLedger.record(spark, store, "/cp/j", id, compactEvery = 3))
    BatchLedger.record(spark, store, "/cp/j", 3L, compactEvery = 3)
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Shim.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      val got = BatchLedger.delivered(spark, store, "/cp/j")
      val none = BatchLedger.delivered(spark, store, "/cp/other")
      Shim.waitUntilEmpty(spark)
      assert(jobs.get() == 0)
      assert(got == (0L until 4L).toSet)
      assert(none.isEmpty)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
