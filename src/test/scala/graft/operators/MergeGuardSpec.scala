package graft.operators

import graft.SparkTestBase
import graft.index.{LshVectorIndex, RangeLedger}
import graft.streaming.{IndexStream, Quiesce}

/** The r16 merge-surface guards, each test reproducing one ADVICE-r15
  * defect (fails on the pre-r16 code) or pinning one r15-verdict ask:
  *
  *  - exact-duplicate docid ranges between two DISTINCT sources must
  *    throw (pre-r16: `theirs.distinct` silently collapsed them and
  *    the merge double-counted every docid);
  *  - overlapping per-batch ranges WITHIN one source must be accepted
  *    (pre-r16: the sorted-sliding check rejected a legitimately
  *    built shard whose batches carried interleaved ids);
  *  - destination aliases (trailing slash, `file:` scheme) must be
  *    caught by the self-merge guard (pre-r16: raw string compare);
  *  - a handle reused after an in-process merge failure must not
  *    compute the new post-merge stats from its stale fields
  *    (pre-r16: the settled older merge's contribution was dropped);
  *  - a stream-fed source without the quiesce handshake must refuse
  *    to merge; the handshake and its withdrawal-by-delivery must
  *    round-trip;
  *  - `mergeAll(compact = true)` must leave the lake at the ideal
  *    file count after a many-shard fan-in. */
class MergeGuardSpec extends SparkTestBase {
  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-guard-$tag").toString

  private def mkLedger(path: String, ranges: Seq[(Long, Long)]): String = {
    RangeLedger.record(spark, path, ranges: _*)
    path
  }

  // ---------------------------------------------------------------
  // claimRangesAll: source-aware overlap rules (ADVICE r15 #1, #2)
  // ---------------------------------------------------------------

  test("exact-duplicate range between two DISTINCT sources throws — " +
    "two shards that indexed the identical docid slice never merge") {
    val root = scratch("dupsrc")
    mkLedger(s"$root/a", Seq((1L, 50L)))
    mkLedger(s"$root/s1", Seq((100L, 199L)))
    mkLedger(s"$root/s2", Seq((100L, 199L))) // identical claim, other shard
    val e = intercept[IllegalArgumentException] {
      IndexMerge.claimRangesAll(spark, s"$root/a",
        Seq(s"$root/s1", s"$root/s2"))
    }
    assert(e.getMessage.contains("distinct sources"))
  }

  test("partial overlap between two sources still throws") {
    val root = scratch("partsrc")
    mkLedger(s"$root/a", Seq((1L, 50L)))
    mkLedger(s"$root/s1", Seq((100L, 180L)))
    mkLedger(s"$root/s2", Seq((150L, 250L)))
    val e = intercept[IllegalArgumentException] {
      IndexMerge.claimRangesAll(spark, s"$root/a",
        Seq(s"$root/s1", s"$root/s2"))
    }
    assert(e.getMessage.contains("disjoint docid ranges"))
  }

  test("interleaved per-batch ranges WITHIN one source are accepted — " +
    "a shard whose batches carried non-monotonic ids is legitimate") {
    val root = scratch("intra")
    mkLedger(s"$root/a", Seq((1L, 50L)))
    // one shard, two batches with interleaved envelopes over
    // perfectly distinct docids (evens then odds)
    mkLedger(s"$root/s1", Seq((100L, 198L), (101L, 199L)))
    mkLedger(s"$root/s2", Seq((300L, 399L)))
    IndexMerge.claimRangesAll(spark, s"$root/a",
      Seq(s"$root/s1", s"$root/s2")) // must NOT throw
    val claimed = RangeLedger.read(spark, s"$root/a").toSet
    assert(claimed == Set((1L, 50L), (100L, 198L), (101L, 199L),
      (300L, 399L)))
    // and the claims pass is value-idempotent on a resume re-run
    IndexMerge.claimRangesAll(spark, s"$root/a",
      Seq(s"$root/s1", s"$root/s2"))
    assert(RangeLedger.read(spark, s"$root/a").size == 4)
  }

  test("an LSH shard appended in interleaved id batches MERGES and " +
    "searches like the monolith (the end-to-end ADVICE #2 shape)") {
    val root = scratch("lshinter")
    val lsh = HyperplaneLsh(dim = 4, nbits = 2, seed = 7L)
    def vec(id: Long): Array[Float] = {
      val r = new scala.util.Random(id)
      Array.fill(4)(r.nextFloat() * 2f - 1f)
    }
    val all = (0L until 60L).map(i => (i, vec(i)))
    val aEven = all.filter(t => t._1 < 30 && t._1 % 2 == 0)
    val aOdd = all.filter(t => t._1 < 30 && t._1 % 2 == 1)
    val b = all.filter(_._1 >= 30)
    // shard A: built from evens, appended odds — its `_ranges` ledger
    // holds two OVERLAPPING envelopes over distinct docids
    val ia = LshVectorIndex.build(aEven.toDF("docid", "vector"),
      "vector", "docid", s"$root/a", lsh)
    ia.append(aOdd.toDF("docid", "vector"), "vector", "docid")
    val ib = LshVectorIndex.build(b.toDF("docid", "vector"),
      "vector", "docid", s"$root/b", lsh)
    val whole = LshVectorIndex.build(all.toDF("docid", "vector"),
      "vector", "docid", s"$root/whole", lsh)
    // the interleaved-ledger shard is a SOURCE (the ADVICE shape:
    // the between-sources sweep used to reject its own two ranges)
    val merged = ib.mergeAll(
      Seq(LshVectorIndex.load(spark, s"$root/a")))
    val q = vec(424242L)
    def top(ix: LshVectorIndex) = ix.search(q, 5, probes = 4)
      .select("docid").as[Long].collect().toSeq
    assert(top(merged) == top(whole))
    assert(merged.count() == 60L)
  }

  // ---------------------------------------------------------------
  // requireDistinctSources: alias normalization (ADVICE r15 #3)
  // ---------------------------------------------------------------

  test("destination aliases are refused: trailing slash and " +
    "scheme-qualified spellings of the destination") {
    val dst = scratch("alias") + "/idx"
    intercept[IllegalArgumentException] {
      IndexMerge.requireDistinctSources(spark, dst, Seq(dst + "/"))
    }
    intercept[IllegalArgumentException] {
      IndexMerge.requireDistinctSources(spark, dst, Seq("file:" + dst))
    }
    intercept[IllegalArgumentException] {
      // duplicate source under two spellings
      IndexMerge.requireDistinctSources(spark, dst,
        Seq(s"$dst.shard", "file:" + dst + ".shard"))
    }
    // distinct real paths still pass
    IndexMerge.requireDistinctSources(spark, dst,
      Seq(s"$dst.s1", s"$dst.s2"))
  }

  // ---------------------------------------------------------------
  // stale handle after settling an older interrupted merge (ADVICE #5)
  // ---------------------------------------------------------------

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "some other corpus document text that lives in the lake"),
    (3L, "a third document with enough distinct words to shingle"),
    (4L, "and a fourth one closing out the miniature test corpus"),
    (10L, "vector search with hash joins is a database topic"),
    (11L, "the lazy dog sleeps while the quick brown fox jumps"),
    (12L, "hash partitioned vector indexes merge by file moves"),
    (13L, "closing documents mention the corpus one final time"))
    .toDF("doc_id", "text")

  test("a handle reused across an interrupted merge settles the older " +
    "merge AND counts its stats — no undercount from stale fields") {
    val root = scratch("stale")
    Bm25Index.build(corpus, "text", "doc_id", s"$root/whole", nBuckets = 8)
    Bm25Index.build(corpus.filter($"doc_id" < 4), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    val a = Bm25Index.build(corpus.filter($"doc_id" >= 4 && $"doc_id" < 11),
      "text", "doc_id", s"$root/a", nBuckets = 8)
    val b = Bm25Index.build(corpus.filter($"doc_id" >= 11), "text",
      "doc_id", s"$root/b", nBuckets = 8)
    // the handle that will be reused after the in-process failure
    val stale = Bm25Index.load(spark, s"$root/dst")
    // plant the failure footprint of mergeAll(Seq(a)) under the r17
    // manifest protocol: claims landed, marker written, generations
    // moved AND committed, `_meta` moved, source drained — death
    // BEFORE the stats write and marker delete (the only states a
    // drained source can coexist with is post-commit)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMerge.claimRangesAll(spark, s"$root/dst", Seq(s"$root/a"))
    IndexMerge.writeMarker(fs, new org.apache.hadoop.fs.Path(s"$root/dst"),
      s"$root/a", Seq(stale.n + a.n, stale.sumdl + a.sumdl, 8L))
    val m0 = graft.index.Manifests.require(spark, s"$root/dst")
    val moved = graft.index.Manifests
      .moveGenerations(spark, s"$root/a", s"$root/dst")
    graft.index.Manifests.commit(spark, s"$root/dst", m0.book,
      m0.parts ++ moved)
    IndexMerge.moveFlatFiles(fs,
      new org.apache.hadoop.fs.Path(s"$root/a/_meta"),
      new org.apache.hadoop.fs.Path(s"$root/dst/_meta"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/a"), true)
    // reuse the STALE handle for a DIFFERENT merge: it must settle
    // a's merge first and compute b's post-stats from the SETTLED
    // on-disk stats, not its own pre-crash fields
    val merged = stale.mergeAll(Seq(b))
    val whole = Bm25Index.load(spark, s"$root/whole")
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl,
      s"stats undercount: ${merged.n}/${merged.sumdl} vs whole " +
      s"${whole.n}/${whole.sumdl}")
    // round-trips through load too
    val reloaded = Bm25Index.load(spark, s"$root/dst")
    assert(reloaded.n == whole.n && reloaded.sumdl == whole.sumdl)
    def top(ix: Bm25Index) = ix.search(Seq("quick", "vector", "corpus"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(merged) == top(whole))
  }

  // ---------------------------------------------------------------
  // quiesce handshake (r15 verdict ask #2)
  // ---------------------------------------------------------------

  test("merging a stream-fed shard without the quiesce marker refuses; " +
    "marking it proceeds; a delivery withdraws the marker") {
    val root = scratch("quiesce")
    Bm25Index.build(corpus.filter($"doc_id" < 10), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    Bm25Index.build(corpus.filter($"doc_id" >= 10 && $"doc_id" < 12),
      "text", "doc_id", s"$root/src", nBuckets = 8)
    // feed the source shard ONE streaming delivery — it now carries a
    // `_batches` ledger, i.e. a stream may be live on it
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" >= 12), 0L, "text", "doc_id",
      s"$root/src", streamId = s"$root/ckpt")
    val dst = Bm25Index.load(spark, s"$root/dst")
    val src = Bm25Index.load(spark, s"$root/src")
    val e = intercept[IllegalStateException] { dst.mergeAll(Seq(src)) }
    assert(e.getMessage.contains("_quiesced"))
    // handshake: mark writer-free, then the merge proceeds
    Quiesce.mark(spark, s"$root/src")
    val merged = Bm25Index.load(spark, s"$root/dst").mergeAll(
      Seq(Bm25Index.load(spark, s"$root/src")))
    val whole = Bm25Index.build(corpus, "text", "doc_id",
      s"$root/whole", nBuckets = 8)
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl)
    // withdrawal: a (replayed) delivery into a quiesced lake clears
    // the marker at batch entry, before any effect
    Quiesce.mark(spark, s"$root/dst")
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" >= 12), 0L, "text", "doc_id",
      s"$root/dst", streamId = s"$root/ckpt2")
    assert(!Quiesce.isMarked(spark, s"$root/dst"))
  }

  // ---------------------------------------------------------------
  // ownership rename closes the quiesce TOCTOU (r17, verdict r16 #2)
  // ---------------------------------------------------------------

  test("restart-in-window footprint (marker cleared AFTER the guard " +
    "passed): ownership refuses and hands the tree back — pre-r17 the " +
    "same step order (guard, then moves+delete) destroyed the lake " +
    "under the restarted stream") {
    val root = scratch("toctou")
    Bm25Index.build(corpus.filter($"doc_id" < 10), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    Bm25Index.build(corpus.filter($"doc_id" >= 10 && $"doc_id" < 12),
      "text", "doc_id", s"$root/src", nBuckets = 8)
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" >= 12), 0L, "text", "doc_id",
      s"$root/src", streamId = s"$root/ckpt")
    Quiesce.mark(spark, s"$root/src")
    // the TOCTOU: the advisory guard passes...
    IndexMerge.requireQuiesced(spark, s"$root/dst", Seq(s"$root/src"))
    // ...and the stream restarts IN the window — its batch entry
    // clears the marker before any effect lands
    Quiesce.clear(spark, s"$root/src")
    // pre-r17, mergeAll's next steps were claims + moves + source
    // delete: the lake died under the live stream. r17's next step is
    // the ownership rename, whose post-rename re-check catches the
    // cleared marker, refuses, and hands the tree back untouched.
    val e = intercept[IllegalStateException] {
      IndexMerge.takeOwnership(spark, Seq(s"$root/src"),
        allowMissing = false)
    }
    assert(e.getMessage.contains("restarted since the drain"),
      e.getMessage)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/src")),
      "the source tree must be handed back to its original path")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/src${IndexMerge.OwnedSuffix}")),
      "no owned sibling may linger after the refusal")
    // the full public surface refuses identically (entry-guard path)
    val e2 = intercept[IllegalStateException] {
      Bm25Index.load(spark, s"$root/dst").mergeAll(
        Seq(Bm25Index.load(spark, s"$root/src")))
    }
    assert(e2.getMessage.contains("_quiesced"))
  }

  test("a stream restarted AFTER the ownership rename bootstraps a " +
    "FRESH lake at the original path; the owned tree and the merge " +
    "are untouched by its deliveries") {
    val root = scratch("postrename")
    Bm25Index.build(corpus.filter($"doc_id" < 10), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    Bm25Index.build(corpus.filter($"doc_id" >= 10 && $"doc_id" < 13),
      "text", "doc_id", s"$root/src", nBuckets = 8)
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" === 13), 0L, "text", "doc_id",
      s"$root/src", streamId = s"$root/ckpt")
    Quiesce.mark(spark, s"$root/src")
    val src = Bm25Index.load(spark, s"$root/src")
    val preRows = spark.read.parquet(s"$root/src").count()
    // ownership taken (what mergeAll does before reading claims)
    val owned = IndexMerge.takeOwnership(spark, Seq(s"$root/src"),
      allowMissing = false)
    // the restarted stream delivers to its configured (original) path:
    // batch entry's marker clear is a no-op on a missing tree and the
    // delivery bootstraps a fresh, unmerged lake there
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" === 13), 1L, "text", "doc_id",
      s"$root/src", streamId = s"$root/ckpt")
    assert(spark.read.parquet(owned.head).count() == preRows,
      "the owned tree must not see the restarted stream's delivery")
    val fresh = Bm25Index.load(spark, s"$root/src")
    assert(fresh.n == 1L, s"fresh lake expected 1 doc, got ${fresh.n}")
    // hand the owned tree back (merge abandoned) — refuses to clobber
    // the fresh lake, keeping the state adjudicable
    IndexMerge.releaseOwnership(spark, s"$root/src")
    assert(fs0(root).exists(new org.apache.hadoop.fs.Path(
      s"$root/src${IndexMerge.OwnedSuffix}")),
      "release must not clobber the restarted stream's fresh lake")
    // ...and a new merge attempt reports the unresolvable both-exist
    // state instead of guessing
    val e = intercept[IllegalStateException] {
      IndexMerge.takeOwnership(spark, Seq(s"$root/src"),
        allowMissing = false)
    }
    assert(e.getMessage.contains("BOTH"), e.getMessage)
    assert(src.path == s"$root/src") // silence unused-val lint
  }

  test("pre-marker crash resume: a re-run ADOPTS the owned tree and " +
    "completes; the merged lake equals the full-corpus build") {
    val root = scratch("adopt")
    Bm25Index.build(corpus.filter($"doc_id" < 10), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    val b = Bm25Index.build(corpus.filter($"doc_id" >= 10), "text",
      "doc_id", s"$root/src", nBuckets = 8)
    // crash footprint: ownership taken, death before claims/marker
    IndexMerge.takeOwnership(spark, Seq(s"$root/src"),
      allowMissing = false)
    assert(!fs0(root).exists(new org.apache.hadoop.fs.Path(s"$root/src")))
    // the re-run (same-process handles, the driver-retry shape)
    val merged = Bm25Index.load(spark, s"$root/dst").mergeAll(Seq(b))
    val whole = Bm25Index.build(corpus, "text", "doc_id",
      s"$root/whole", nBuckets = 8)
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl)
    def top(ix: Bm25Index) = ix.search(Seq("quick", "vector"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(merged) == top(whole))
    assert(!fs0(root).exists(new org.apache.hadoop.fs.Path(
      s"$root/src${IndexMerge.OwnedSuffix}")),
      "the adopted tree is drained and deleted by the completed merge")
  }

  private def fs0(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the quiesce guard covers the DESTINATION too — a stream-fed " +
    "dst must be marked before absorbing shards") {
    val root = scratch("quiescedst")
    Bm25Index.build(corpus.filter($"doc_id" < 4), "text", "doc_id",
      s"$root/dst", nBuckets = 8)
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" >= 4 && $"doc_id" < 10), 0L, "text",
      "doc_id", s"$root/dst", streamId = s"$root/ckpt")
    Bm25Index.build(corpus.filter($"doc_id" >= 10), "text", "doc_id",
      s"$root/src", nBuckets = 8)
    val dst = Bm25Index.load(spark, s"$root/dst")
    val src = Bm25Index.load(spark, s"$root/src")
    intercept[IllegalStateException] { dst.mergeAll(Seq(src)) }
    Quiesce.mark(spark, s"$root/dst")
    val merged = Bm25Index.load(spark, s"$root/dst").mergeAll(Seq(src))
    assert(merged.n == 8L)
  }

  test("the quiesce marker SURVIVES a compact: maintenance must not " +
    "make a drained lake unmergeable") {
    val root = scratch("quiescecompact")
    Bm25Index.build(corpus.filter($"doc_id" < 10), "text", "doc_id",
      s"$root/src", nBuckets = 8)
    IndexStream.keywordBatch(
      corpus.filter($"doc_id" >= 10), 0L, "text", "doc_id",
      s"$root/src", streamId = s"$root/ckpt")
    Quiesce.mark(spark, s"$root/src")
    Bm25Index.load(spark, s"$root/src").compact()
    assert(Quiesce.isMarked(spark, s"$root/src"),
      "compact dropped the quiesce marker")
    // a disjoint-docid destination: the compacted quiesced lake must
    // merge into it without re-marking
    Bm25Index.build(
      Seq((100L, "a fresh destination document about nothing shared"),
        (101L, "and another destination row to receive the shards"))
        .toDF("doc_id", "text"),
      "text", "doc_id", s"$root/dst", nBuckets = 8)
    val merged = Bm25Index.load(spark, s"$root/dst").mergeAll(
      Seq(Bm25Index.load(spark, s"$root/src")))
    assert(merged.n == 2 + 8, s"merged n=${merged.n}")
  }

  // ---------------------------------------------------------------
  // compact-aware merge (r15 verdict ask #4)
  // ---------------------------------------------------------------

  test("mergeAll(compact = true) folds a many-shard fan-in to the " +
    "ideal file count — the lake cannot silently stay taxed") {
    val root = scratch("mergecompact")
    val docs = (0L until 240L)
      .map(i => (i, s"document number $i talks about topic${i % 7} " +
        s"and topic${i % 11} with shared corpus vocabulary"))
      .toDF("doc_id", "text")
    val shards = 24
    val width = 10L
    val handles = (0 until shards).map { s =>
      Bm25Index.build(
        docs.filter($"doc_id" >= s * width && $"doc_id" < (s + 1) * width),
        "text", "doc_id", s"$root/s$s", nBuckets = 4)
    }
    // 24 shards × 4 buckets ≈ 96 post-merge files, well past the
    // slack×ideal=64 trigger at this layout — the flag must fire
    val merged = handles.head.mergeAll(handles.tail, compact = true)
    assert(!merged.shouldCompact(),
      "a compact-flagged merge must land below the compaction trigger")
    val (files, _) = merged.storageFootprint()
    assert(files <= 4L * 2,
      s"expected ~one file per bucket after the in-merge compact, got $files")
    // and the compacted merged lake still matches the monolith
    val whole = Bm25Index.build(docs, "text", "doc_id", s"$root/whole",
      nBuckets = 4)
    assert(merged.n == whole.n && merged.sumdl == whole.sumdl)
    def top(ix: Bm25Index) = ix.search(Seq("topic3", "corpus"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(Bm25Index.load(spark, s"$root/s0")) == top(whole))
  }

  test("LSH compact is crash-safe (r17, manifest snapshots): a crash " +
    "mid-rewrite leaves an invisible orphan; the committed compact " +
    "shrinks the snapshot's file count without touching prior " +
    "snapshots inside the retention window") {
    val root = scratch("lshcompact")
    val lsh = HyperplaneLsh(dim = 4, nbits = 2, seed = 3L)
    def vec(id: Long): Array[Float] = {
      val r = new scala.util.Random(id)
      Array.fill(4)(r.nextFloat() * 2f - 1f)
    }
    val a = (0L until 40L).map(i => (i, vec(i)))
    val ix = LshVectorIndex.build(a.toDF("docid", "vector"),
      "vector", "docid", s"$root/idx", lsh)
    (0 until 3).foreach { k =>
      ix.append(
        (40L + k * 10 until 50L + k * 10).map(i => (i, vec(i)))
          .toDF("docid", "vector"), "vector", "docid")
    }
    val before = ix.count()
    val filesBefore = ix.storageFootprint()._1
    // the crash window: a torn rewrite generation, never committed
    new java.io.File(s"$root/idx/gen=g-0000000066/bucket=0").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$root/idx/gen=g-0000000066/bucket=0/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(LshVectorIndex.load(spark, s"$root/idx").count() == before,
      "the torn rewrite must be invisible")
    val compacted = LshVectorIndex.load(spark, s"$root/idx").compact()
    assert(compacted.count() == before)
    assert(compacted.storageFootprint()._1 < filesBefore,
      "compaction must shrink the snapshot's file count")
    // the build generation survives the compact (retention window)
    assert(new java.io.File(s"$root/idx/gen=g-0000000001").exists)
  }
}
